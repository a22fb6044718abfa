package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import org.scalatest.funsuite.AnyFunSuite

/** The [[SideOutput]] contract on planted source files: a marked
  * generation is a hit, an unmarked one is wiped and rebuilt, a
  * regenerated source replaces its old generation, a failed build is
  * retried, sanitized-equal paths never share a family, scratch dirs
  * come back empty, and a source guard keeps every on-disk fixture on
  * the primitive. */
class SideOutputSpec extends AnyFunSuite {

  private def plant(name: String = "orders.parquet"): File = {
    val f = Files.createTempDirectory("graft_sideout").resolve(name).toFile
    Files.write(f.toPath, new Array[Byte](64))
    f
  }

  /** A build closure that counts its calls and writes one data file. */
  private class CountingBuild extends (String => Unit) {
    var calls = 0
    def apply(p: String): Unit = {
      calls += 1
      Files.write(Paths.get(p, "part-0"), Array[Byte](1, 2, 3))
    }
  }

  private def marked(gen: String): Boolean = new File(gen, SideOutput.Marker).isFile

  test("a complete generation is a hit: the second call builds nothing") {
    val src = plant().getPath
    val build = new CountingBuild
    val first = SideOutput("spec", src)(build)
    val second = SideOutput("spec", src)(build)
    assert(first == second)
    assert(build.calls == 1)
    assert(marked(first) && new File(first, "part-0").isFile)
  }

  test("a generation without the marker is wiped and rebuilt") {
    val src = plant().getPath
    val build = new CountingBuild
    val gen = SideOutput("spec", src)(build)
    assert(new File(gen, SideOutput.Marker).delete())
    Files.write(Paths.get(gen, "torn"), Array[Byte](9))
    var seen = Seq.empty[String]
    val again = SideOutput("spec", src) { p =>
      seen = new File(p).list().toSeq
      build(p)
    }
    assert(again == gen)
    assert(seen.isEmpty, s"the partial directory was not wiped: $seen")
    assert(build.calls == 2)
    assert(marked(gen) && !new File(gen, "torn").exists())
  }

  test("a regenerated source builds a new generation and leaves exactly one") {
    val src = plant()
    val build = new CountingBuild
    val old = SideOutput("spec", src.getPath)(build)
    Files.write(src.toPath, new Array[Byte](8), StandardOpenOption.APPEND)
    assert(src.setLastModified(src.lastModified() + 5000L))
    val fresh = SideOutput("spec", src.getPath)(build)
    assert(fresh != old)
    assert(build.calls == 2)
    val family = new File(fresh).getParentFile
    // The family also holds its lock file and its recorded source.
    assert(family.list().filterNot(Set(".lock", "_source")).toSeq == Seq(new File(fresh).getName))
    assert(!new File(old).exists())
    assert(SideOutput("spec", src.getPath)(build) == fresh && build.calls == 2)
  }

  test("a build that throws leaves no marker and is retried on the next call") {
    val src = plant().getPath
    val build = new CountingBuild
    val boom = intercept[IllegalStateException] {
      SideOutput("spec", src) { p =>
        build(p)
        throw new IllegalStateException("build failed")
      }
    }
    assert(boom.getMessage == "build failed")
    val gen = SideOutput("spec", src)(build)
    assert(build.calls == 2)
    assert(marked(gen))
  }

  test("sources whose sanitized paths are equal get separate families") {
    val dir = Files.createTempDirectory("graft_sideout")
    val (a, b) = (dir.resolve("a.b").toFile, dir.resolve("a_b").toFile)
    Seq(a, b).foreach(f => Files.write(f.toPath, new Array[Byte](16)))
    val build = new CountingBuild
    val genA = SideOutput("spec", a.getPath)(build)
    val genB = SideOutput("spec", b.getPath)(build)
    assert(new File(genA).getParentFile != new File(genB).getParentFile)
    assert(build.calls == 2)
    assert(marked(genA) && marked(genB), "one source's build deleted the other's")
    SideOutput("spec", a.getPath)(build)
    SideOutput("spec", b.getPath)(build)
    assert(build.calls == 2)
  }

  test("scratch comes back empty on every call") {
    val src = plant().getPath
    val first = SideOutput.scratch("specsink", src)
    assert(new File(first).isDirectory && new File(first).list().isEmpty)
    Files.createDirectories(Paths.get(first, "v0"))
    Files.write(Paths.get(first, "v0", "part-0"), Array[Byte](1))
    val second = SideOutput.scratch("specsink", src)
    assert(second == first)
    assert(new File(second).isDirectory && new File(second).list().isEmpty)
  }

  test("scratch is per process: a live process's directory stays, a dead one's goes") {
    val src = plant().getPath
    val mine = new File(SideOutput.scratch("specsink", src))
    assert(mine.getName == s"run_${ProcessHandle.current().pid()}")
    val family = mine.getParentFile
    // pid 1 is always alive; no Linux pid reaches 999999999.
    val (live, dead) = (new File(family, "run_1"), new File(family, "run_999999999"))
    Seq(live, dead).foreach(d => Files.createDirectories(d.toPath))
    SideOutput.scratch("specsink", src)
    assert(live.isDirectory, "a live process's scratch directory was deleted")
    assert(!dead.exists(), "a dead process's scratch directory was kept")
  }

  test("threads asking for one fixture at once build it once") {
    val src = plant().getPath
    val build = new CountingBuild
    val slow: String => Unit = { p => Thread.sleep(200); build(p) }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val ask = new java.util.concurrent.Callable[String] {
        def call(): String = SideOutput("spec", src)(slow)
      }
      val gens = (0 until 4).map(_ => pool.submit(ask)).map(_.get()).distinct
      assert(gens.size == 1 && marked(gens.head))
      assert(build.calls == 1, s"built ${build.calls} times")
    } finally pool.shutdown()
  }

  test("dropOrphans deletes a family whose source is gone and keeps a live one") {
    val (gone, live) = (plant(), plant())
    val build = new CountingBuild
    val goneFamily = new File(SideOutput("spec", gone.getPath)(build)).getParentFile
    val liveGen = SideOutput("spec", live.getPath)(build)
    assert(new String(Files.readAllBytes(goneFamily.toPath.resolve("_source")),
      StandardCharsets.UTF_8) == gone.getPath)
    assert(gone.delete())
    SideOutput.dropOrphans()
    assert(!goneFamily.exists(), "the orphaned family was kept")
    assert(marked(liveGen), "a family whose source exists was dropped")
  }

  test("source guard: every on-disk fixture goes through graft.SideOutput") {
    // Bench, BenchDist and BenchDistAnn keep their literal artifact
    // paths (/tmp/graft_bench*.json) and synthetic-input paths.
    val benches = Set("Bench.scala", "BenchDist.scala", "BenchDistAnn.scala")
    val banned = Seq(
      "a /tmp/graft_ literal" -> "\"/tmp/graft_",
      "Memo.fileTag" -> "Memo.fileTag",
      "a hand-rolled path stem" -> """replaceAll("[^A-Za-z0-9]", "_")""")
    val hits = scala.collection.mutable.ArrayBuffer.empty[String]
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().forEachRemaining { f =>
      val name = f.getFileName.toString
      if (name.endsWith(".scala") && name != "SideOutput.scala") {
        val src = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
        for ((what, text) <- banned
             if src.contains(text) && !(benches(name) && text == banned.head._2))
          hits += s"$what in $f"
      }
    } finally walk.close()
    assert(hits.isEmpty, hits.mkString("; "))
  }
}
