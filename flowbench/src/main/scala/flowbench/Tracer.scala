package flowbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed interval: a call into a layer, or a Spark job. Times are
  * `System.nanoTime` for harness spans and epoch millis for jobs, each
  * recorded relative to the tracer's origin in seconds.
  */
final case class Span(id: Int, parent: Int, name: String, start: Double,
                      end: Double, attrs: Map[String, Double] = Map.empty)

/** Task totals of one stage. */
final class StageAgg {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var outputRecords = 0L
}

/** One Spark job as the listener saw it. `module` is the graft object
  * whose call submitted the job (from the stage call site), `span` the
  * harness span that was open on the submitting thread.
  */
final class JobRec(val id: Int, val group: String, val desc: String,
                   val module: String, val span: Int, val startMs: Long,
                   val stageIds: Seq[Int]) {
  var endMs: Long = -1L
}

/** Records harness spans and attributes Spark jobs, stages and tasks to
  * graft modules, using only public listener APIs.
  *
  * Attribution: a job belongs to the first `graft.` frame of its stage
  * call site (`csv at DsvReader.scala:…` has `graft.io.DsvReader$.read`
  * in its long form), except Spark's "Listing leaf files…" jobs, which
  * are file listing. The span open when the job was submitted travels
  * with the job as the local property `flowbench.span`.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.Map.empty[Int, StageAgg]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextSpan = 1
  private var open = List(0)

  def secondsSince(ms: Long): Double = (ms - originMs) / 1000.0
  private def now: Double = (System.nanoTime() - originNs) / 1e9

  /** Time `body` as a span named after the layer call it wraps. */
  def span[T](name: String)(body: => T): T = {
    val id = nextSpan
    nextSpan += 1
    val parent = open.head
    open = id :: open
    sc.setLocalProperty(Tracer.SpanProperty, id.toString)
    val start = now
    try body
    finally {
      val end = now
      open = open.tail
      sc.setLocalProperty(Tracer.SpanProperty, open.head.toString)
      lock.synchronized { spans += Span(id, parent, name, start, end) }
    }
  }

  def spanList: Seq[Span] = lock.synchronized(spans.toSeq)

  /** Ended jobs, without the drain markers. */
  def jobList: Seq[JobRec] = lock.synchronized(
    jobs.values.filter(j => j.endMs >= 0 && j.desc != Tracer.DrainDesc).toSeq)

  /** Task totals over the distinct stages of `js` (a stage a job skips
    * belongs to the job that ran it, so it is counted once).
    */
  def stageTotals(js: Seq[JobRec]): Seq[StageAgg] = lock.synchronized(
    js.flatMap(_.stageIds).distinct.flatMap(stages.get))

  /** Block until every job of `group` the status tracker knows has ended
    * here, and a marker job submitted after them has ended too (the
    * listener bus delivers in order, so then nothing of the group is
    * still in flight).
    */
  def drain(group: String): Unit = {
    sc.setJobGroup(group, Tracer.DrainDesc, interruptOnCancel = false)
    sc.setJobDescription(Tracer.DrainDesc)
    sc.parallelize(Seq(1), 1).count()
    sc.setJobDescription(null)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def done = {
      val ids = sc.statusTracker.getJobIdsForGroup(group).toSet
      lock.synchronized(ids.forall(id => jobs.get(id).exists(_.endMs >= 0)) &&
        jobs.values.exists(j => j.group == group && j.desc == Tracer.DrainDesc &&
          j.endMs >= 0))
    }
    while (!done) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"listener did not drain group $group")
      Thread.sleep(2)
    }
  }

  /** Spans plus one span per job, for the trace file. */
  def allSpans: Seq[Span] = lock.synchronized {
    spans.toSeq ++ jobs.values.filter(j =>
        j.endMs >= 0 && j.desc != Tracer.DrainDesc).map { j =>
      val aggs = j.stageIds.flatMap(stages.get)
      Span(-j.id - 1, j.span, s"job:${j.module}", secondsSince(j.startMs),
        secondsSince(j.endMs), Map(
          "tasks" -> aggs.map(_.tasks).sum.toDouble,
          "executor_s" -> aggs.map(_.runMs).sum / 1000.0,
          "input_bytes" -> aggs.map(_.inputBytes).sum.toDouble,
          "output_bytes" -> aggs.map(_.outputBytes).sum.toDouble,
          "shuffle_write_bytes" -> aggs.map(_.shuffleWriteBytes).sum.toDouble))
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val desc = prop("spark.job.description").getOrElse("")
    val details = e.stageInfos.map(_.details).mkString("\n")
    val module = Tracer.module(desc, details)
    val rec = new JobRec(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
      desc, module, prop(Tracer.SpanProperty).map(_.toInt).getOrElse(0),
      e.time, e.stageInfos.map(_.stageId))
    lock.synchronized { jobs(e.jobId) = rec }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    lock.synchronized { jobs.get(e.jobId).foreach(_.endMs = e.time) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    lock.synchronized {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
      a.outputBytes += m.outputMetrics.bytesWritten
      a.outputRecords += m.outputMetrics.recordsWritten
    }
  }
}

object Tracer {
  val SpanProperty = "flowbench.span"
  val DrainDesc = "flowbench drain"
  val Listing = "listing"

  private val GraftFrame = """(?m)^\s*graft\.([A-Za-z0-9_.]+?)\$?\.[A-Za-z0-9_$]+\(""".r

  /** Module of a job: "listing" for Spark's leaf-file listing jobs, else
    * the first graft object on the stage call site (`io.DsvReader`),
    * else "other".
    */
  def module(desc: String, details: String): String =
    if (desc.startsWith("Listing leaf files")) Listing
    else GraftFrame.findFirstMatchIn(details).map(_.group(1)).getOrElse("other")
}
