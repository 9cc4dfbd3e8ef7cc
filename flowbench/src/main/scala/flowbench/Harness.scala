package flowbench

import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.exec.{Annotator, Runner}
import graft.io.ParquetSink
import graft.model._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, Observation, SparkSession}

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Runs one flowbench workload in one JVM against graft's public entry
  * points and writes a JSON record of it: set-up time, the cold pass,
  * the warm passes, each operation's output checksum, heap figures and,
  * with `--trace 1`, per-layer figures from [[Tracer]].
  *
  * {{{
  * Harness --inputs <dir> --out <file> --cpus <n> --seconds <s>
  *         [--trace 0|1] [--spans <file>]
  * }}}
  * `<dir>/meta.json` (written by `gen.py`) describes the workload and its
  * inputs.
  */
object Harness {
  private val mapper = new ObjectMapper()
  // the first warm pass still runs partly unoptimized code and is left
  // out of pass_s, so a run makes at least two plain warm passes (and,
  // traced, at least one traced pass)
  private val MinPlain = 2
  private val MinTraced = 1
  private val SetupReps = 5
  private val MaxPassWindowS = 120.0

  /** The result of one operation (manifest command or panel query). */
  final case class Op(name: String, error: Option[String],
                      check: Option[ObjectNode], rddsLeft: Int = 0,
                      storageMbLeft: Double = 0)

  /** One workload: a pass runs every operation once, one `Op` per
    * expected output; `check` reads what the pass wrote (not timed).
    */
  trait Workload {
    /** Untimed, before each pass. */
    def prepare(): Unit = ()
    def pass(spark: SparkSession, t: Option[Tracer]): Seq[Op]
    def check(spark: SparkSession, ops: Seq[Op]): Seq[Op] = ops
    def afterTracedPass(spark: SparkSession, t: Tracer): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val inputs = new File(opts("inputs")).getAbsoluteFile
    val meta = mapper.readTree(new File(inputs, "meta.json"))
    val rec = mapper.createObjectNode()
    // set-up = session ready and inputs verified. The first is timed from
    // JVM start; the repeats stop the session and build it again.
    val setups = rec.putArray("setups")
    var spark: SparkSession = null
    try {
      for (k <- 1 to SetupReps) {
        val startNs = System.nanoTime()
        if (spark != null) spark.stop()
        spark = graft.Sessions.builder(opts("cpus")).getOrCreate()
        verifyInputs(inputs, meta)
        setups.add(if (k > 1) secs(startNs) else (System.currentTimeMillis() -
          ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0)
      }
      run(spark, inputs, meta, opts("seconds").toDouble,
        opts.getOrElse("trace", "0") == "1", opts.get("spans"), rec)
      Files.write(Paths.get(opts("out")), mapper.writeValueAsBytes(rec))
    } finally if (spark != null) spark.stop()
  }

  /** Inputs are present and have the sizes the generator recorded. */
  def verifyInputs(root: File, meta: JsonNode): Unit =
    meta.get("file_bytes").properties.asScala.foreach { e =>
      val f = new File(root, e.getKey)
      require(f.isFile, s"missing input $f")
      require(f.length == e.getValue.asLong,
        s"input $f has ${f.length} bytes, expected ${e.getValue.asLong}")
    }

  def workload(meta: JsonNode, root: File): Workload =
    meta.get("workload").asText match {
      case "ingest_wide" =>
        val m = meta.get("manifest")
        def strs(k: String) = m.get(k).elements.asScala.map(_.asText).toSeq
        val cmd = Command(
          source = m.get("source").asText, target = m.get("target").asText,
          cols = strs("ids").map(c => ColMeta(c, Some(c), Some(s"id column $c"))),
          melt = Some(MeltSpec(Some(MeltEnd(m.get("key").asText)),
            Some(MeltEnd(m.get("value").asText)), strs("melt"))))
        new ManifestWorkload(root, meta, _ => EngineManifest(Seq(cmd)))
      case "manifest_many" =>
        val config = Annotator.Config.parse(
          mapper.writeValueAsString(meta.get("annotate_config")))
        val catalog = FieldsCatalog.parse(
          mapper.writeValueAsString(meta.get("catalog")))
        new ManifestWorkload(root, meta, t => {
          val annotate = () => Annotator.annotate(root.getPath, config, catalog)
          t.fold(annotate())(_.span("exec.Annotator.annotate")(annotate()))
            .manifest
        }) {
          override def afterTracedPass(spark: SparkSession, t: Tracer): Unit = {
            val files = t.span("exec.Annotator.listFiles")(
              Annotator.listFiles(root.getPath, config.extensions))
            filesListed = files.size
          }
        }
      case "query_panel" =>
        new PanelWorkload(new File(root, "tables").getPath, queries(meta))
    }

  def queries(meta: JsonNode): Seq[String] =
    meta.get("queries").elements.asScala.map(_.asText).toSeq

  /** Manifest path: (annotate →) `Runner.run` → Parquet. Traced passes
    * call `Runner.plan` and `ParquetSink.write` per command, the two calls
    * `Runner.run` makes, so each gets its own span.
    */
  class ManifestWorkload(root: File, meta: JsonNode,
                         manifest: Option[Tracer] => EngineManifest)
      extends Workload {
    val dataDir = new File(root, "data").getPath
    val outDir = new File(root, "out").getPath
    val targets = meta.get("expected").fieldNames.asScala.toSeq
    var filesListed = 0
    var lastCommands = 0

    /** Every pass writes into an empty output directory, as the cold one does. */
    override def prepare(): Unit = {
      val out = Paths.get(outDir)
      if (Files.exists(out))
        Files.walk(out).iterator.asScala.toSeq.reverse.foreach(Files.delete)
    }

    def pass(spark: SparkSession, t: Option[Tracer]): Seq[Op] =
      try {
        val m = manifest(t)
        lastCommands = m.commands.size
        val planned = m.commands.map(_.target)
        require(planned.sorted == targets.sorted,
          s"manifest targets ${planned.mkString(", ")}")
        t match {
          case None => Runner.run(spark, m, dataDir, outDir)
          case Some(tr) => m.commands.foreach { cmd =>
            val df = tr.span("exec.Runner.plan")(Runner.plan(spark, cmd, dataDir))
            val span = if (cmd.melt.isDefined) "io.ParquetSink.write[melt]"
              else "io.ParquetSink.write"
            tr.span(span)(ParquetSink.write(df, s"$outDir/${cmd.target}"))
          }
        }
        targets.map(Op(_, None, None))
      } catch {
        case NonFatal(e) => targets.map(Op(_, Some(e.toString), None))
      }

    override def check(spark: SparkSession, ops: Seq[Op]): Seq[Op] =
      ops.map { op =>
        if (op.error.isDefined) op
        else try {
          val df = spark.read.parquet(s"$outDir/${op.name}")
          val cols = checksumCols(df.schema)
          val row = df.agg(cols.head, cols.tail: _*).head()
          op.copy(check = Some(checksumJson(df.schema,
            row.getValuesMap[Any](row.schema.fieldNames.toSeq))))
        } catch {
          case NonFatal(e) => op.copy(error = Some(s"check: $e"))
        }
      }

    def outputFiles: Long = {
      val out = Paths.get(outDir)
      if (!Files.exists(out)) 0L
      else Files.walk(out).iterator.asScala.count { p =>
        val n = p.getFileName.toString
        n.startsWith("part-") && n.endsWith(".parquet")
      }.toLong
    }
  }

  /** Operator queries from `SparkEntry.queries`, each to the `noop` sink;
    * the checksum is observed on the rows as they reach the sink.
    */
  class PanelWorkload(tablesDir: String, queries: Seq[String]) extends Workload {
    def pass(spark: SparkSession, t: Option[Tracer]): Seq[Op] = {
      val sc = spark.sparkContext
      val group = Option(sc.getLocalProperty("spark.jobGroup.id")).getOrElse("")
      queries.map { q =>
        sc.setJobGroup(s"$group:$q", q, interruptOnCancel = false)
        val op = try {
          var schema: StructType = null
          val obs = Observation()
          val body = () => {
            val df = graft.SparkEntry.queries(q)(spark, tablesDir)
            schema = df.schema
            val cols = checksumCols(schema)
            df.observe(obs, cols.head, cols.tail: _*)
              .write.format("noop").mode("overwrite").save()
          }
          t.fold(body())(_.span(s"queries.$q")(body()))
          // leak probe, read right after the call returns
          val rdds = sc.getPersistentRDDs.size
          val storage = sc.getExecutorMemoryStatus.values
            .map { case (max, free) => max - free }.sum / 1048576.0
          Op(q, None, Some(checksumJson(schema, obs.get)), rdds, storage)
        } catch {
          case NonFatal(e) => Op(q, Some(e.toString), None)
        }
        spark.catalog.clearCache()
        op
      }
    }
  }

  def secs(startNs: Long): Double = (System.nanoTime() - startNs) / 1e9

  /** Order-independent checksum aggregates: row count, exact sums of
    * integral columns, sums of floating columns, sums of CRC-32 of strings.
    */
  def checksumCols(schema: StructType): Seq[Column] =
    count(lit(1)).as("__rows") +: schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      (f.dataType match {
        case ByteType | ShortType | IntegerType | LongType => sum(c.cast(LongType))
        case FloatType | DoubleType | _: DecimalType => sum(c.cast(DoubleType))
        case StringType => sum(crc32(c.cast(BinaryType)))
        case _ => count(c)
      }).as(f.name)
    }

  def kind(t: DataType): String = t match {
    case ByteType | ShortType | IntegerType | LongType => "int"
    case FloatType | DoubleType | _: DecimalType => "float"
    case StringType => "str"
    case other => other.simpleString
  }

  def checksumJson(schema: StructType, values: Map[String, Any]): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("rows", values("__rows").asInstanceOf[Long])
    val cols = o.putObject("cols")
    schema.fields.foreach { f =>
      val a = cols.putArray(f.name)
      a.add(kind(f.dataType))
      values.get(f.name) match {
        case Some(v: Long) => a.add(v)
        case Some(v: Double) => a.add(v)
        case Some(null) | None => a.addNull()
        case Some(v) => a.add(v.toString)
      }
    }
    o
  }

  def run(spark: SparkSession, root: File, meta: JsonNode, seconds: Double,
          trace: Boolean, spansFile: Option[String], rec: ObjectNode): Unit = {
    val sc = spark.sparkContext
    val w = workload(meta, root)
    val passes = rec.putArray("passes")
    val tracer = if (trace) Some(new Tracer(sc)) else None
    val heapWatch = new HeapWatch

    def onePass(i: Int, traced: Boolean): Double = {
      val group = s"${if (traced) "t" else "p"}$i"
      sc.setJobGroup(group, group, interruptOnCancel = false)
      w.prepare()
      // every pass starts from a collected heap
      System.gc()
      heapWatch.reset()
      tracer.filter(_ => traced).foreach(sc.addSparkListener)
      val start = System.nanoTime()
      val ops = tracer.filter(_ => traced)
        .fold(w.pass(spark, None))(t => t.span("pass")(w.pass(spark, Some(t))))
      val s = secs(start)
      val peakMb = heapWatch.peak / 1048576.0
      tracer.filter(_ => traced).foreach { t =>
        t.drain(group)
        sc.removeSparkListener(t)
        w.afterTracedPass(spark, t)
      }
      sc.setJobGroup("check", "check", interruptOnCancel = false)
      val checked = w.check(spark, ops)
      sc.clearJobGroup()
      val p = passes.addObject()
      p.put("i", i).put("s", s).put("traced", traced)
        .put("heap_peak_mb", peakMb)
      val arr = p.putArray("ops")
      checked.foreach { op =>
        val o = arr.addObject()
        o.put("name", op.name)
          .put("rdds_left", op.rddsLeft).put("storage_mb_left", op.storageMbLeft)
        op.error.foreach(o.put("error", _))
        op.check.foreach(o.set[JsonNode]("check", _))
      }
      s
    }

    rec.put("cold_pass_s", onePass(0, traced = false))
    val window = System.nanoTime()
    var (i, plain, traced) = (1, 0, 0)
    def want = secs(window) < seconds || plain < MinPlain ||
      (trace && traced < MinTraced)
    while (want && secs(window) < MaxPassWindowS) {
      // a traced run alternates plain and traced passes, so the two
      // medians share warm-up and give the tracing overhead
      val isTraced = trace && i % 2 == 0
      onePass(i, isTraced)
      if (isTraced) traced += 1 else plain += 1
      i += 1
    }

    // live heap: after full collections, with pauses between them for
    // Spark's cleaner thread to drop what the previous one released
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    rec.put("heap_live_mb",
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
    heapWatch.close()

    tracer.foreach { t =>
      rec.set[JsonNode]("layers",
        LayerMetrics(t, w, rec.get("passes"), queries(meta),
          sc.defaultParallelism))
      spansFile.foreach { f =>
        val arr = mapper.createArrayNode()
        t.allSpans.sortBy(_.start).foreach { s =>
          val o = arr.addObject()
          o.put("id", s.id).put("parent", s.parent).put("name", s.name)
            .put("start", s.start).put("end", s.end)
          s.attrs.foreach { case (k, v) => o.put(k, v) }
        }
        Files.write(Paths.get(f), mapper.writerWithDefaultPrettyPrinter()
          .writeValueAsBytes(arr))
      }
    }
  }
}
