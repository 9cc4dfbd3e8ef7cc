package graft.model

import com.fasterxml.jackson.databind.JsonNode
import scala.jdk.CollectionConverters._

/** The reference's classification-manifest dialect
  * (`reference/annotation/manifest.schema.json:1-97`): a document
  * classifying FILES (standard / variable-by-pattern) and COLUMNS
  * (standard with metadata / variable melt groups).
  *
  * [[validate]] checks a document against the schema's semantics and
  * returns POINTED errors (JSON-path + problem) instead of letting a
  * malformed manifest fail deep inside Spark; [[compile]] lowers a valid
  * document into engine [[Command]]s through [[Lowering]], the annotator's
  * own lowering (standard columns project+annotate; a file's variable
  * columns melt under their group's key/value names; `[token]`s in a
  * variable pattern become token columns).
  */
object ManifestSchema {

  def looksLikeClassification(root: JsonNode): Boolean =
    root.isObject && root.has("files") && root.has("columns")

  /** Schema check. Empty result = valid. */
  def validate(root: JsonNode): Seq[String] = {
    val errs = Seq.newBuilder[String]
    def req(n: JsonNode, f: String, path: String): Option[JsonNode] = {
      val c = Option(n.get(f)).filter(x => !x.isNull)
      if (c.isEmpty) errs += s"$path.$f: required"
      c
    }
    def str(n: JsonNode, f: String, path: String): Unit =
      req(n, f, path).foreach(v =>
        if (!v.isTextual) errs += s"$path.$f: expected string, got ${v.getNodeType}")
    def strArr(n: JsonNode, f: String, path: String): Unit =
      req(n, f, path).foreach { v =>
        if (!v.isArray) errs += s"$path.$f: expected array, got ${v.getNodeType}"
        else v.elements.asScala.zipWithIndex.foreach { case (e, i) =>
          if (!e.isTextual) errs += s"$path.$f[$i]: expected string, got ${e.getNodeType}"
        }
      }
    def objArr(n: JsonNode, f: String, path: String)
        (itemCheck: (JsonNode, String) => Unit): Unit =
      req(n, f, path).foreach { v =>
        if (!v.isArray) errs += s"$path.$f: expected array, got ${v.getNodeType}"
        else v.elements.asScala.zipWithIndex.foreach { case (e, i) =>
          if (!e.isObject) errs += s"$path.$f[$i]: expected object, got ${e.getNodeType}"
          else itemCheck(e, s"$path.$f[$i]")
        }
      }

    if (!root.isObject) return Seq("$: expected object")
    req(root, "files", "$").foreach { files =>
      objArr(files, "standard", "$.files") { (e, p) =>
        str(e, "file", p); strArr(e, "columns", p)
      }
      objArr(files, "variable", "$.files") { (e, p) =>
        str(e, "pattern", p); str(e, "regex", p); strArr(e, "columns", p)
      }
    }
    req(root, "columns", "$").foreach { cols =>
      objArr(cols, "standard", "$.columns") { (e, p) =>
        str(e, "column", p); str(e, "name", p); str(e, "desc", p)
      }
      objArr(cols, "variable", "$.columns") { (e, p) =>
        strArr(e, "columns", p); str(e, "name", p); str(e, "desc", p)
      }
    }
    errs.result()
  }

  /** Lower a (validated) classification document to engine commands. */
  def compile(root: JsonNode): EngineManifest = {
    val errors = validate(root)
    if (errors.nonEmpty) throw new IllegalArgumentException(
      s"manifest does not match the classification schema:\n  ${errors.mkString("\n  ")}")

    def items(parent: String, f: String): Seq[JsonNode] =
      root.get(parent).get(f).elements.asScala.toSeq
    def texts(n: JsonNode, f: String): Seq[String] =
      n.get(f).elements.asScala.map(_.asText).toSeq
    def opt(n: JsonNode, f: String): Option[String] =
      Option(n.get(f)).map(_.asText).filter(_.nonEmpty)

    // a column listed as standard stays standard, even inside a group
    val stdMeta: Map[String, JsonNode] = items("columns", "standard")
      .map(e => FieldsCatalog.norm(e.get("column").asText) -> e).toMap
    val groups = items("columns", "variable").map(e => ColumnGroup(
      texts(e, "columns").filterNot(c => stdMeta.contains(FieldsCatalog.norm(c))),
      MeltEnd(e.get("name").asText, opt(e, "desc")), MeltEnd("value")))
    def meta(c: String): ColMeta = stdMeta.get(FieldsCatalog.norm(c))
      .fold(ColMeta(c))(e => ColMeta(c, opt(e, "name"), opt(e, "desc")))
    def lower(source: String, columns: Seq[String],
              tokens: Seq[TokenSpec]): Command = {
      val (cols, melt) = Lowering.split(columns, groups, meta, source)
      Command(source = source, target = Lowering.targetFor(source),
        cols = cols, tokens = tokens, melt = melt)
    }

    val standardCmds = items("files", "standard").map(e =>
      lower(e.get("file").asText, texts(e, "columns"), Nil))
    val variableCmds = items("files", "variable").map { e =>
      val pattern = e.get("pattern").asText
      lower(pattern, texts(e, "columns"),
        graft.ops.Tokens.tokenNames(pattern).distinct.map(TokenSpec(_)))
    }
    EngineManifest(standardCmds ++ variableCmds)
  }
}
