package graftbench

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {
  private val spec = {
    val src = scala.io.Source.fromFile(new java.io.File("../BENCHMARK.json"))
    try parse(src.mkString) finally src.close()
  }
  private def entries(key: String): Seq[Map[String, Any]] =
    (spec \ key).asInstanceOf[JArray].arr.map(_.values.asInstanceOf[Map[String, Any]])

  test("metric names follow [A-Za-z0-9_.-]+ and are unique") {
    val names = PerLayer.All.map(_.name) ++ entries("end_to_end").map(_("name").toString)
    assert(names.forall(_.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")), names)
    assert(names.distinct.size == names.size)
  }

  test("BENCHMARK.json lists exactly the per-layer metrics the run reports") {
    val listed = entries("per_layer").map(m =>
      PerLayer.Metric(m("name").toString, m("unit").toString, m("better").toString))
    assert(listed == PerLayer.All)
  }

  test("BENCHMARK.json lists the workloads the run knows") {
    assert(entries("workloads").map(_("name")) == Main.Workloads.map(_.name))
  }

  test("result line carries the four keys with every metric's value and unit") {
    val line = Json.result(correct = true, 3, 0, Seq(("job_s", 1.25, "s"), ("stages", 7.0, "count")))
    val j = parse(line)
    assert((j \ "correct") == JBool(true) && (j \ "attempted") == JInt(3) && (j \ "failed") == JInt(0))
    assert((j \ "metrics" \ "job_s" \ "value") == JDouble(1.25))
    assert((j \ "metrics" \ "stages" \ "unit") == JString("count"))
  }
}
