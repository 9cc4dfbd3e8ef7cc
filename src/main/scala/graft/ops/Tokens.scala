package graft.ops

import graft.model.TokenSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{input_file_name, regexp_extract, regexp_replace, url_decode}

/** `[token]` path patterns (SURVEY §2.1 S5/S6, §2.8 R3).
  *
  * The reference turns `data/mageck/[GENE]/rra.sgrna_summary.txt` into a
  * named-group regex `(?P<GENE>[^/]+)` and matches the file list against it
  * (`run_annotate.py:133-144`); each token becomes a column on every row of
  * the concatenated table (`run_annotate.py:195`, consumed shape
  * `json/example/transform.json:8-14`).
  *
  * Spark-first mapping: ONE glob read over all matching files (each token
  * becomes `*` in the glob — no per-file reads, no driver loop), then
  * `regexp_extract(input_file_name(), ...)` per token. The extraction is a
  * codegen'd row expression over a per-partition-constant string, so it
  * costs ~nothing and the scan stays a single distributed FileScan —
  * exactly what survives 100 TB. (Hive-style partition discovery does NOT
  * fit: tokens sit mid-path, not `k=v`.)
  */
object Tokens {
  private val TokenRe = "\\[(\\w+)\\]".r

  /** Token names in order of appearance (`re.findall(r'\[(\w+)\]')`,
    * `run_annotate.py:133`).
    */
  def tokenNames(pattern: String): Seq[String] =
    TokenRe.findAllMatchIn(pattern).map(_.group(1)).toSeq

  /** Pattern -> glob for the multi-file read: every `[token]` -> `*`. */
  def toGlob(pattern: String): String =
    TokenRe.replaceAllIn(pattern, "*")

  /** Pattern -> Java regex with one capture group per token, quoting every
    * literal segment (the reference string-replaces into an unquoted
    * pattern, `run_annotate.py:136`, which breaks on regex metachars like
    * `.` — deliberate fix, SURVEY §1.5).
    * Matched against the END of the file URI (input_file_name returns an
    * absolute `file:/...` URI while patterns are dataset-relative).
    */
  def toRegex(pattern: String): String = {
    val sb = new StringBuilder
    var last = 0
    for (m <- TokenRe.findAllMatchIn(pattern)) {
      sb.append(java.util.regex.Pattern.quote(pattern.substring(last, m.start)))
      sb.append("([^/]+)")
      last = m.end
    }
    sb.append(java.util.regex.Pattern.quote(pattern.substring(last)))
    sb.toString
  }

  /** The spec of token `tok`, matched ignoring brackets and case. */
  def specFor(tokens: Seq[TokenSpec], tok: String): Option[TokenSpec] =
    tokens.find(_.token.stripPrefix("[").stripSuffix("]")
      .equalsIgnoreCase(tok))

  /** Output column of token `tok`: its spec's name, else the token,
    * lowercased.
    */
  def columnName(tokens: Seq[TokenSpec], tok: String): String =
    specFor(tokens, tok).flatMap(_.name).getOrElse(tok).trim match {
      case "" => tok
      case n  => n.toLowerCase
    }

  /** Append one column per token, extracted from the input file path. */
  def withTokenColumns(df: DataFrame, pattern: String,
                       tokens: Seq[TokenSpec]): DataFrame = {
    val regex = ".*" + toRegex(
      if (pattern.startsWith("/")) pattern else "/" + pattern) + "$"
    tokenNames(pattern).zipWithIndex.foldLeft(df) { case (acc, (tok, i)) =>
      val spec = specFor(tokens, tok)
      val outName = columnName(tokens, tok)
      // input_file_name() is a percent-encoded URI; decode so a path
      // segment like "MIDDLE EAST" round-trips. Literal '+' is escaped
      // first because url_decode would turn it into a space.
      val raw = regexp_extract(input_file_name(), regex, i + 1)
      acc.withColumn(outName,
        url_decode(regexp_replace(raw, "\\+", "%2B"))
          .as(outName, Annotate.metadataFor(
            spec.flatMap(_.name), spec.flatMap(_.desc))))
    }
  }

  /** Resolve `$data_directory` against a concrete root. The reference does
    * a raw substring replace of `data` -> `$data_directory`
    * (`run_annotate.py:190`) — we anchor to the leading path segment
    * (SURVEY §1.5.5) so `metadata/x.csv` is never corrupted.
    */
  def resolveDataDirectory(source: String, dataDir: String): String = {
    val d = dataDir.stripSuffix("/")
    if (source.startsWith("$data_directory/")) d + source.stripPrefix("$data_directory")
    else if (source == "$data_directory") d
    else if (source.startsWith("data/")) d + "/" + source.stripPrefix("data/")
    else source
  }
}
