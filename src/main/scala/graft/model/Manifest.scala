package graft.model

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Column metadata entry: storage column name + human-facing name/desc.
  * Shape per reference `json/example/gpt/fields.json:2-6` ({col,name,desc}).
  */
final case class ColMeta(col: String, name: Option[String] = None,
                         desc: Option[String] = None)

/** Path token spec: `[token]` in a source pattern becomes a column.
  * Shape per reference `json/example/transform.json:8-14` and
  * `annotation/commands/run_annotate.py:159-171`.
  */
final case class TokenSpec(token: String, name: Option[String] = None,
                           desc: Option[String] = None)

/** One side (key or value) of a melt spec —
  * `run_annotate.py:202-211` ({name, desc}).
  */
final case class MeltEnd(name: String, desc: Option[String] = None)

/** Melt (unpivot) spec: which columns fold and what the key/value output
  * columns are called. `valueColumns` empty means "all non-id columns".
  * Reference: `run_annotate.py:202-211`, `json/example/transform.json:20`.
  */
final case class MeltSpec(key: Option[MeltEnd] = None,
                          value: Option[MeltEnd] = None,
                          valueColumns: Seq[String] = Nil)

/** Per-source read options, reference `json/example/transform.json:16-19`
  * (`kwargs.read`: sep, index_col). `indexCol` is kept as a plain column in
  * Spark (pandas index semantics have no Spark equivalent and none needed).
  */
final case class ReadOpts(sep: Option[String] = None,
                          header: Boolean = true,
                          indexCol: Option[String] = None,
                          sampleInference: Boolean = false)

/** One compiled pipeline command: source glob -> project/rename ->
  * token-extract -> concat -> melt -> parquet. Superset of the three
  * reference dialects (SURVEY §1.5.6):
  *  - emitted `{"commands": [[...],[...]]}` (`run_annotate.py:314-319`)
  *  - `{"dsv": [...]}` (`json/example/transform.json:1-36`)
  *  - `manifest.schema.json` (files/columns classification; compiled here)
  */
final case class Command(
    source: String,
    target: String,
    name: Option[String] = None,
    desc: Option[String] = None,
    cols: Seq[ColMeta] = Nil,
    tokens: Seq[TokenSpec] = Nil,
    melt: Option[MeltSpec] = None,
    read: ReadOpts = ReadOpts(),
    where: Option[String] = None)

final case class EngineManifest(commands: Seq[Command])

/** A variable-column group: its columns fold under `key`/`value`. */
final case class ColumnGroup(columns: Seq[String], key: MeltEnd,
                             value: MeltEnd)

/** The per-command decisions, made once: the annotator and the
  * classification dialect lower files through both, and the parser takes
  * its default target from [[targetFor]].
  */
object Lowering {

  /** Default parquet target of a source: its basename, DSV extension off. */
  def targetFor(source: String): String =
    source.split('/').last
      .replaceAll("\\.(txt|csv|tsv)(\\.gz)?$", "") + ".parquet"

  /** Split a file's columns into (standard, melt spec). A column is
    * variable iff it sits in some group; the file melts iff ALL its
    * variable columns sit in ONE group (subset containment, first match —
    * `run_annotate.py:200`); a spread across groups is an error (SURVEY
    * §1.5.4). Every other column is standard, in file order, with its
    * metadata from `meta`.
    */
  def split(columns: Seq[String], groups: Seq[ColumnGroup],
            meta: String => ColMeta, where: String)
      : (Seq[ColMeta], Option[MeltSpec]) = {
    val normGroups = groups.map(g => g -> g.columns.map(FieldsCatalog.norm).toSet)
    val (varCols, std) = columns.partition(c =>
      normGroups.exists(_._2(FieldsCatalog.norm(c))))
    val normVar = varCols.map(FieldsCatalog.norm)
    val melt = if (normVar.isEmpty) None
      else normGroups.find(g => normVar.forall(g._2)) match {
        case Some((g, _)) =>
          Some(MeltSpec(Some(g.key), Some(g.value), normVar))
        case None => throw new IllegalArgumentException(
          s"$where: variable columns ${normVar.mkString(",")} span multiple groups")
      }
    (std.map(meta), melt)
  }
}

/** Parser for all three manifest dialects. Driver-side only (plan
  * compilation, not data). Jackson ships with Spark (`/opt/spark/jars`).
  */
object ManifestParser {
  private val mapper = new ObjectMapper()

  def parse(json: String): EngineManifest = parseNode(mapper.readTree(json))

  def parseFile(path: String): EngineManifest =
    parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8"))

  def parseNode(root: JsonNode): EngineManifest = {
    if (root.has("commands")) parseEmitted(root)
    else if (root.has("dsv"))
      EngineManifest(root.get("dsv").elements.asScala.map(parseCommand).toSeq)
    else if (ManifestSchema.looksLikeClassification(root))
      // classification dialect: schema-validated (pointed errors at
      // parse time, not deep inside Spark), then lowered to commands
      ManifestSchema.compile(root)
    else if (root.isArray) // bare list of commands
      EngineManifest(root.elements.asScala.map(parseCommand).toSeq)
    else throw new IllegalArgumentException(
      s"Unrecognized manifest dialect; top-level keys: ${root.fieldNames.asScala.mkString(",")}")
  }

  /** Emitted dialect (`run_annotate.py:314-319`): `commands` is a list that
    * may contain nested lists (standard[], variable[]) — flatten.
    */
  private def parseEmitted(root: JsonNode): EngineManifest = {
    def flatten(n: JsonNode): Iterator[JsonNode] =
      if (n.isArray) n.elements.asScala.flatMap(flatten) else Iterator(n)
    EngineManifest(flatten(root.get("commands")).map(parseCommand).toSeq)
  }

  /** One command of any dialect. The emitted dialect wraps fields in
    * `{"command": "hot.Parquet", "params": {...}}` and calls the token
    * list `concat` (`run_annotate.py:195`); the `dsv` dialect
    * (`json/example/transform.json`) nests `read`/`melt` under `kwargs`.
    */
  private def parseCommand(n: JsonNode): Command = {
    val p = if (n.has("params")) n.get("params") else n
    def kwarg(f: String): Option[JsonNode] =
      Option(p.get("kwargs")).flatMap(k => Option(k.get(f)))
        .orElse(Option(p.get(f)))
    val source = text(p, "source").getOrElse(fail(p, "source"))
    Command(
      source = source,
      target = text(p, "target").getOrElse(Lowering.targetFor(source)),
      name = text(p, "name"),
      desc = text(p, "desc"),
      cols = arr(p, "cols").map(parseColMeta),
      tokens = (arr(p, "concat") ++ arr(p, "tokens")).map(parseToken),
      melt = kwarg("melt").map(parseMelt),
      read = kwarg("read").map(parseRead).getOrElse(ReadOpts()),
      where = text(p, "where"))
  }

  private def parseColMeta(n: JsonNode): ColMeta =
    if (n.isTextual) ColMeta(n.asText)
    else ColMeta(text(n, "col").getOrElse(fail(n, "col")),
      text(n, "name"), text(n, "desc"))

  private def parseToken(n: JsonNode): TokenSpec =
    if (n.isTextual) TokenSpec(n.asText)
    else TokenSpec(text(n, "token").getOrElse(fail(n, "token")),
      text(n, "name"), text(n, "desc"))

  private def parseMelt(n: JsonNode): MeltSpec = MeltSpec(
    key = Option(n.get("key")).map(parseEnd),
    value = Option(n.get("value")).map(parseEnd),
    valueColumns = arr(n, "columns").map(_.asText))

  private def parseEnd(n: JsonNode): MeltEnd =
    MeltEnd(text(n, "name").getOrElse("variable"), text(n, "desc"))

  private def parseRead(n: JsonNode): ReadOpts = ReadOpts(
    sep = text(n, "sep"),
    header = Option(n.get("header")).forall(_.asBoolean(true)),
    indexCol = text(n, "index_col"),
    sampleInference = Option(n.get("sample_inference"))
      .exists(_.asBoolean(false)))

  private def text(n: JsonNode, f: String): Option[String] =
    Option(n.get(f)).filter(x => !x.isNull).map(_.asText)
      .filter(_.nonEmpty)

  private def arr(n: JsonNode, f: String): Seq[JsonNode] =
    Option(n.get(f)).filter(_.isArray)
      .map(_.elements.asScala.toSeq).getOrElse(Nil)

  private def fail(n: JsonNode, f: String): Nothing =
    throw new IllegalArgumentException(s"manifest entry missing '$f': $n")
}
