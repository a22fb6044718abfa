package graftbench

/** The per-layer metrics of a traced run, `<span>.<counter>`. A span
  * the workload's branch never enters reports 0: that zero is the
  * branch evidence. */
object PerLayer {
  final case class Metric(name: String, unit: String, better: String)

  private val common = Seq(("wall_ms", "ms", "lower"), ("driver_cpu_ms", "ms", "lower"),
    ("exec_cpu_ms", "ms", "lower"), ("stages", "count", "lower"), ("gc_ms", "ms", "lower"))

  val LayerSpans: Seq[String] = Seq("sources.read_edges", "graphbuilder.supplier_coedges",
    "graphbuilder.to_graphx", "spark.collect_edges", "locallouvain.cluster_with_levels",
    "louvain.run", "graphops.louvain") ++ Main.SuiteQueries.map("query." + _)

  private val spanExtras: Seq[(String, String, String)] = Seq(
    ("louvain.run.tasks", "count", "lower"),
    ("louvain.run.sched_delay_ms", "ms", "lower"),
    ("louvain.run.shuffle_write_bytes", "bytes", "lower"),
    ("louvain.run.cpu_util", "ratio", "higher"),
    ("locallouvain.cluster_with_levels.cpu_util", "ratio", "higher"),
    ("spark.collect_edges.result_bytes", "bytes", "lower"),
    ("graphbuilder.supplier_coedges.shuffle_write_bytes", "bytes", "lower")) ++
    Main.SuiteQueries.map(q => (s"query.$q.sql_plan_ms", "ms", "lower"))

  /** Values the run computes itself rather than reading from a span. */
  val Computed: Seq[Metric] = Seq(
    Metric("graphops.louvain.q_drop_e6", "e6", "lower"),
    Metric("input.planted_q_e6", "e6", "higher"))

  val All: Seq[Metric] =
    (for (s <- LayerSpans; (c, u, b) <- common) yield Metric(s"$s.$c", u, b)) ++
      spanExtras.map { case (n, u, b) => Metric(n, u, b) } ++ Computed

  /** Median per counter over each span name's occurrences. */
  def values(spans: Seq[Span], computed: Map[String, Double]): Seq[(String, Double, String)] =
    All.map { m =>
      val v = computed.getOrElse(m.name, {
        val span = LayerSpans.find(s => m.name.startsWith(s + ".")).get
        val counter = m.name.drop(span.length + 1)
        val xs = spans.filter(_.name == span).map(_.counters(counter)).sorted
        if (xs.isEmpty) 0.0 else xs(xs.length / 2)
      })
      (m.name, v, m.unit)
    }
}
