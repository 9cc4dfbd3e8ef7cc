package graft.exec

import graft.io.Sniffer
import graft.model._
import graft.ops.Tokens
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import scala.jdk.CollectionConverters._

/** Non-interactive `annotate` (SURVEY §3.1): the reference's interactive
  * compilation flow with every prompt replaced by config. Produces the
  * same artifact — a manifest of hot.Parquet commands — plus catalog
  * write-back for unseen columns (S10).
  *
  * Flow (mirrors `run_annotate.py:257-326`):
  *  1. recursive scan under `<input>/data`, extension allowlist (S1/P4)
  *  2. partition files into variable groups by [token] pattern
  *     (first-match wins, `run_annotate.py:124-144`); leftovers are
  *     standard files. A pattern matching zero files is an ERROR (the
  *     reference loops forever — SURVEY §1.5.7 decision)
  *  3. per file/group: header columns via the sniffer sample (single
  *     driver-side read of the head bytes — the reference re-parses
  *     whole files twice, SURVEY §1.5.3 decision: one cheap pass)
  *  4. normalize + resolve against the fields catalog; unresolved
  *     columns are appended to the catalog with empty metadata
  *     (write-back, `run_annotate.py:293-307`)
  *  5. compile commands through [[Lowering]], shared with the
  *     classification dialect: cols = resolved columns in file order;
  *     melt if ALL of a file's variable columns sit inside one
  *     variable-column group (subset-containment, first match —
  *     `run_annotate.py:200`, kept per SURVEY §1.5.4)
  */
object Annotator {

  val DefaultExtensions: Seq[String] =
    Seq(".txt", ".csv", ".tsv", ".txt.gz", ".csv.gz", ".tsv.gz")

  case class VariableFilesSpec(pattern: String, name: Option[String],
                               desc: Option[String], tokens: Seq[TokenSpec])
  case class VariableColumnsSpec(columns: Seq[String], name: String,
                                 desc: Option[String], valueName: String,
                                 valueDesc: Option[String])
  case class Config(variableFiles: Seq[VariableFilesSpec] = Nil,
                    variableColumns: Seq[VariableColumnsSpec] = Nil,
                    extensions: Seq[String] = DefaultExtensions,
                    process: String = "*")

  object Config {
    private val mapper = new ObjectMapper()
    def parse(json: String): Config = {
      val n = mapper.readTree(json)
      def arr(f: String) = Option(n.get(f)).filter(_.isArray)
        .map(_.elements.asScala.toSeq).getOrElse(Nil)
      def txt(o: com.fasterxml.jackson.databind.JsonNode, f: String) =
        Option(o.get(f)).filter(!_.isNull).map(_.asText).filter(_.nonEmpty)
      Config(
        variableFiles = arr("variable_files").map { v =>
          VariableFilesSpec(
            pattern = txt(v, "pattern").getOrElse(
              throw new IllegalArgumentException("variable_files.pattern required")),
            name = txt(v, "name"), desc = txt(v, "desc"),
            tokens = Option(v.get("tokens")).filter(_.isArray)
              .map(_.elements.asScala.toSeq).getOrElse(Nil)
              .map(t => TokenSpec(txt(t, "token").getOrElse(""),
                txt(t, "name"), txt(t, "desc"))))
        },
        variableColumns = arr("variable_columns").map { v =>
          VariableColumnsSpec(
            columns = Option(v.get("columns")).map(_.elements.asScala
              .map(_.asText).toSeq).getOrElse(Nil),
            name = txt(v, "name").getOrElse("variable"),
            desc = txt(v, "desc"),
            valueName = txt(v, "value_name").getOrElse("value"),
            valueDesc = txt(v, "value_desc"))
        },
        extensions = if (arr("extensions").nonEmpty)
          arr("extensions").map(_.asText) else DefaultExtensions,
        process = Option(n.get("process")).map(_.asText).getOrElse("*"))
    }
    def parseFile(path: String): Config =
      parse(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8"))
  }

  /** Recursive file scan relative to `root`, extension-filtered (S1). */
  def listFiles(root: String, extensions: Seq[String],
                conf: Configuration = new Configuration()): Seq[String] = {
    val dataDir = new Path(root, "data")
    val fs = dataDir.getFileSystem(conf)
    if (!fs.exists(dataDir)) return Nil
    val it = fs.listFiles(dataDir, true)
    val out = Seq.newBuilder[String]
    val rootPath = new Path(root).toUri.getPath.stripSuffix("/")
    while (it.hasNext) {
      val f = it.next()
      val p = f.getPath.toUri.getPath
      if (extensions.exists(p.endsWith))
        out += p.stripPrefix(rootPath + "/")
    }
    out.result().sorted
  }

  /** Header columns of one file from the sniffer's head sample: the
    * quote-aware split (a quoted header cell may contain the separator)
    * sees the same columns Spark's CSV reader will.
    */
  def headerColumns(root: String, relPath: String,
                    conf: Configuration = new Configuration())
      : Seq[String] =
    Sniffer.sniffHeader(s"${root.stripSuffix("/")}/$relPath", conf)
      .map(_.trim)

  case class Result(manifest: EngineManifest, catalog: FieldsCatalog,
                    newColumns: Seq[String])

  def annotate(inputDir: String, config: Config, catalog: FieldsCatalog,
               conf: Configuration = new Configuration()): Result = {
    val files = listFiles(inputDir, config.extensions, conf)

    // 2. partition into variable groups (first pattern wins)
    var remaining = files
    val groups = config.variableFiles.map { spec =>
      val regex = ("^" + Tokens.toRegex(spec.pattern) + "$").r
      val (matched, rest) = remaining.partition(f =>
        regex.findFirstIn(f).isDefined)
      if (matched.isEmpty) throw new IllegalArgumentException(
        s"variable-file pattern matches no files: ${spec.pattern}")
      remaining = rest
      spec -> matched
    }
    val standard = remaining

    // 3.+4. columns + resolution + write-back
    var cat = catalog
    val newCols = Seq.newBuilder[String]
    def resolve(file: String)(c: String): ColMeta = {
      val norm = FieldsCatalog.norm(c)
      cat.resolve(c, config.process, file) match {
        case Some(e) => ColMeta(norm,
          Some(e.name).filter(_.nonEmpty), Some(e.desc).filter(_.nonEmpty))
        case None =>
          cat = cat ++ FieldsCatalog(Seq(FieldEntry(norm)))
          newCols += norm
          ColMeta(norm)
      }
    }
    val colGroups = config.variableColumns.map(g => ColumnGroup(g.columns,
      MeltEnd(g.name, g.desc), MeltEnd(g.valueName, g.valueDesc)))

    // 5. compile: the sample file's header lowers the whole command
    def lower(source: String, sample: String, name: Option[String] = None,
              desc: Option[String] = None,
              tokens: Seq[TokenSpec] = Nil): Command = {
      val (cols, melt) = Lowering.split(headerColumns(inputDir, sample, conf),
        colGroups, resolve(sample.split('/').last), s"file $sample")
      Command(source = source, target = Lowering.targetFor(source),
        name = name, desc = desc, cols = cols, tokens = tokens, melt = melt)
    }
    val standardCmds = standard.map(f => lower(f, f))
    val variableCmds = groups.map { case (spec, matched) =>
      // dedupe tokens by name (SURVEY §1.5.8 decision)
      lower(spec.pattern, matched.head, spec.name, spec.desc,
        Tokens.tokenNames(spec.pattern).distinct.map(t =>
          Tokens.specFor(spec.tokens, t).getOrElse(TokenSpec(t))))
    }

    Result(EngineManifest(standardCmds ++ variableCmds), cat,
      newCols.result().distinct)
  }
}
