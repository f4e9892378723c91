package perfbench

import scala.jdk.CollectionConverters._

/** The per-layer table: how each metric a traced run reports is read off
  * the spans of one traced op.
  */
object Layers {

  /** The per-layer metrics and their units, in order: the `per_layer` list
    * of the benchmark's manifest, BENCHMARK.json.
    */
  def catalog(manifest: java.nio.file.Path): Seq[(String, String)] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(manifest.toFile)
    val list = root.path("per_layer")
    if (!list.isArray || list.size == 0)
      throw new IllegalStateException(s"$manifest has no per_layer list")
    list.elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText)
      .toSeq
  }

  /** Metric values of one traced op from its spans, their task sums and the
    * workload's notes for that op.
    */
  def perOp(spans: Seq[Span], sums: Map[String, TaskSums],
      notes: Map[String, Double]): Map[String, Double] = {
    val out = scala.collection.mutable.HashMap.empty[String, Double] ++= notes
    val empty = new TaskSums
    spans.groupBy(_.layer).foreach { case (layer, ss) =>
      val t = new TaskSums
      ss.foreach(s => t.add(sums.getOrElse(s.id, empty)))
      out(s"$layer.wall_s") = ss.map(_.wallS).sum
      out(s"$layer.cpu_s") = t.cpuNs / 1e9
      out(s"$layer.shuffle_write_bytes") = t.shuffleWriteBytes.toDouble
      out(s"$layer.spill_bytes") = t.spillBytes.toDouble
      out(s"$layer.peak_exec_mem_bytes") = t.peakExecMem.toDouble
      out(s"$layer.jobs") = t.jobs.toDouble
    }
    def v(k: String) = out.getOrElse(k, 0.0)
    out("engine.Validator.overlap_s") = v("engine.StatsPass.wall_s") +
      v("engine.Constraints.row.wall_s") + v("engine.Constraints.unique.wall_s") -
      v("engine.Validator.wall_s")
    out("streaming.StreamingValidate.tick_wall_s") =
      v("streaming.StreamingValidate.wall_s")
    val all = new TaskSums
    spans.foreach(s => all.add(sums.getOrElse(s.id, empty)))
    out("spark.jobs") = all.jobs.toDouble
    out("spark.tasks") = all.tasks.toDouble
    out("spark.failed_tasks") = all.failedTasks.toDouble
    out("spark.spill_bytes") = all.spillBytes.toDouble
    out.toMap
  }

  /** Catalog values: the median over traced ops, except the history slope
    * (across ops) and the run-level values in `runLevel`.
    */
  def report(catalog: Seq[(String, String)], ops: Seq[Map[String, Double]],
      runLevel: Map[String, Double]): Seq[(String, Double, String)] = {
    val hist = ops.map(_.getOrElse("streaming.StreamingValidate.history_input_bytes", 0.0))
    catalog.map { case (name, unit) =>
      val value =
        if (name == "streaming.StreamingValidate.history_input_bytes_slope")
          Util.slope(hist)
        else runLevel.getOrElse(name, Util.median(ops.map(_.getOrElse(name, 0.0))))
      (name, value, unit)
    }
  }
}
