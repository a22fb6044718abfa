package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Writes a traced run's spans and level trail as one JSON file. */
object Trace {
  def write(path: String, workload: String, seed: Long, spans: Seq[Span],
      levels: Seq[(Int, Double, Long, Long)]): Unit = {
    val spanJson = spans.map { s =>
      Json.obj(Seq("name" -> Json.str(s.name), "start_ms" -> s.startMs.toString,
        "end_ms" -> s.endMs.toString,
        "counters" -> Json.obj(s.counters.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    }
    val trail = levels.map { case (l, q, c, v) =>
      Json.obj(Seq("level" -> l.toString, "modularity" -> Json.num(q),
        "n_communities" -> c.toString, "n_vertices" -> v.toString))
    }
    val doc = Json.obj(Seq("workload" -> Json.str(workload), "seed" -> seed.toString,
      "cores" -> Tracer.Cores.toString,
      "level_trail" -> trail.mkString("[\n  ", ",\n  ", "]"),
      "spans" -> spanJson.mkString("[\n  ", ",\n  ", "]")))
    Files.write(Paths.get(path), (doc + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
