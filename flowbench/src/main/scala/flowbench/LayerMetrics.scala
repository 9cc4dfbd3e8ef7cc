package flowbench

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}

import scala.jdk.CollectionConverters._

/** Per-layer figures of a traced run, one value per name: for each
  * traced pass a value is computed, and the median over the traced
  * passes is reported. Layers a workload does not call read 0.
  */
object LayerMetrics {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def apply(t: Tracer, w: Harness.Workload, passes: JsonNode,
            queries: Seq[String], cores: Int): ObjectNode = {
    val spans = t.spanList
    val jobs = t.jobList
    def dur(s: Span) = s.end - s.start
    def jobS(j: JobRec) = (j.endMs - j.startMs) / 1000.0
    def under(ids: Set[Int]) = jobs.filter(j => ids.contains(j.span))
    val passSpans = spans.filter(_.name == "pass")
    val passRecs = passes.elements.asScala.filter(_.get("traced").asBoolean).toSeq

    val perPass: Seq[Map[String, Double]] =
      passSpans.zip(passRecs).map { case (ps, rec) =>
        val group = s"t${rec.get("i").asInt}"
        val passJobs = jobs.filter(j => j.group == group ||
          j.group.startsWith(group + ":"))
        val kids = spans.filter(_.parent == ps.id)
        def kidsNamed(p: String => Boolean) = kids.filter(s => p(s.name))
        val plans = kidsNamed(_ == "exec.Runner.plan")
        val writes = kidsNamed(_.startsWith("io.ParquetSink.write"))
        val meltWrites = kidsNamed(_ == "io.ParquetSink.write[melt]")
        val writeJobs = under(writes.map(_.id).toSet)
        val writeAgg = t.stageTotals(writeJobs)
        val meltAgg = t.stageTotals(under(meltWrites.map(_.id).toSet))
        val inferJobs = passJobs.filter(_.module == "io.DsvReader")
        val listJobs = passJobs.filter(_.module == Tracer.Listing)
        val all = t.stageTotals(passJobs)
        val passS = rec.get("s").asDouble
        val planS = plans.map(dur).sum
        val m = Map.newBuilder[String, Double]
        m += "exec.Annotator.annotate_s" ->
          kidsNamed(_ == "exec.Annotator.annotate").map(dur).sum
        m += "exec.Runner.plan_s" -> planS
        m += "exec.Runner.plan_driver_s" ->
          (planS - under(plans.map(_.id).toSet).map(jobS).sum)
        m += "io.DsvReader.infer_s" -> inferJobs.map(jobS).sum
        m += "io.DsvReader.infer_bytes" ->
          t.stageTotals(inferJobs).map(_.inputBytes).sum.toDouble
        m += "io.DsvReader.listing_s" -> listJobs.map(jobS).sum
        m += "io.DsvReader.listing_tasks" ->
          t.stageTotals(listJobs).map(_.tasks).sum.toDouble
        m += "io.ParquetSink.write_s" -> writes.map(dur).sum
        m += "io.ParquetSink.executor_s" -> writeAgg.map(_.runMs).sum / 1000.0
        m += "io.ParquetSink.cpu_s" -> writeAgg.map(_.cpuNs).sum / 1e9
        m += "io.ParquetSink.gc_s" -> writeAgg.map(_.gcMs).sum / 1000.0
        m += "io.ParquetSink.tasks" -> writeAgg.map(_.tasks).sum.toDouble
        m += "io.ParquetSink.records_in" -> writeAgg.map(_.inputRecords).sum.toDouble
        m += "io.ParquetSink.records_out" -> writeAgg.map(_.outputRecords).sum.toDouble
        m += "io.ParquetSink.bytes_out" -> writeAgg.map(_.outputBytes).sum.toDouble
        val meltIn = meltAgg.map(_.inputRecords).sum
        m += "ops.Melt.rows_out_per_row_in" -> (if (meltIn == 0) 0.0
          else meltAgg.map(_.outputRecords).sum.toDouble / meltIn)
        m += "spark.jobs" -> passJobs.size.toDouble
        m += "spark.stages" -> all.count(_.tasks > 0).toDouble
        m += "spark.tasks" -> all.map(_.tasks).sum.toDouble
        m += "spark.core_busy_frac" -> all.map(_.runMs).sum / 1000.0 / (passS * cores)
        m += "spark.shuffle_bytes" -> all.map(_.shuffleWriteBytes).sum.toDouble
        m += "spark.spill_bytes" -> all.map(_.spillBytes).sum.toDouble
        m += "spark.gc_s" -> all.map(_.gcMs).sum / 1000.0
        val ops = rec.get("ops").elements.asScala.map(o => o.get("name").asText -> o).toMap
        queries.foreach { q =>
          val qJobs = passJobs.filter(_.group == s"$group:$q")
          val qAgg = t.stageTotals(qJobs)
          m += s"queries.$q.s" -> kidsNamed(_ == s"queries.$q").map(dur).sum
          m += s"queries.$q.jobs" -> qJobs.size.toDouble
          m += s"queries.$q.executor_s" -> qAgg.map(_.runMs).sum / 1000.0
          m += s"queries.$q.shuffle_bytes" -> qAgg.map(_.shuffleWriteBytes).sum.toDouble
          m += s"queries.$q.spill_bytes" -> qAgg.map(_.spillBytes).sum.toDouble
          m += s"queries.$q.rdds_left" ->
            ops.get(q).map(_.get("rdds_left").asDouble).getOrElse(0.0)
          m += s"queries.$q.storage_mb_left" ->
            ops.get(q).map(_.get("storage_mb_left").asDouble).getOrElse(0.0)
        }
        m.result()
      }

    val out = JsonNodeFactory.instance.objectNode()
    perPass.headOption.foreach(_.keys.toSeq.sorted.foreach { k =>
      out.put(k, median(perPass.map(_(k))))
    })
    out.put("exec.Annotator.listFiles_s",
      median(spans.filter(_.name == "exec.Annotator.listFiles").map(dur)))
    w match {
      case mw: Harness.ManifestWorkload =>
        out.put("exec.Annotator.files", mw.filesListed.toDouble)
        out.put("exec.Runner.commands", mw.lastCommands.toDouble)
        out.put("io.ParquetSink.files_out", mw.outputFiles.toDouble)
      case _ =>
        Seq("exec.Annotator.files", "exec.Runner.commands",
          "io.ParquetSink.files_out").foreach(out.put(_, 0.0))
    }
    out
  }
}
