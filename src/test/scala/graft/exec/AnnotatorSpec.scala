package graft.exec

import graft.TestSpark
import graft.model.{FieldsCatalog, ManifestParser, ManifestWriter}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class AnnotatorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** MAGeCK-shaped dataset: one standard counts file with per-sample
    * variable columns + one [GENE] variable file group.
    */
  private def fixture(): String = {
    val root = Files.createTempDirectory("graft-ann")
    val counts = root.resolve("data/mageck/count/combined")
    Files.createDirectories(counts)
    Files.write(counts.resolve("counts.txt"),
      "sgRNA\tGene\tsampleA\tsampleB\ns1\tBRCA1\t10\t20\ns2\tTP53\t30\t40\n"
        .getBytes)
    for (g <- Seq("BRCA1", "TP53")) {
      val d = root.resolve(s"data/mageck/$g")
      Files.createDirectories(d)
      Files.write(d.resolve("rra.sgrna_summary.txt"),
        s"sgrna\tscore\ns1\t0.5\ns2\t0.9\n".getBytes)
    }
    root.toString
  }

  val config: Annotator.Config = Annotator.Config.parse(
    """{"variable_files": [{"pattern": "data/mageck/[GENE]/rra.sgrna_summary.txt",
      |   "name": "sgRNA Summary",
      |   "tokens": [{"token": "[GENE]", "name": "gene", "desc": "target"}]}],
      | "variable_columns": [{"columns": ["sampleA", "sampleB"],
      |   "name": "sample", "value_name": "reads"}]}""".stripMargin)

  val catalog: FieldsCatalog = FieldsCatalog.parse(
    """[{"col":"sgrna","name":"sgRNA","desc":"guide id"},
      |{"col":"gene","name":"Gene","desc":"target gene"}]""".stripMargin)

  test("annotate compiles standard + variable commands with write-back") {
    val root = fixture()
    val r = Annotator.annotate(root, config, catalog)
    assert(r.manifest.commands.size == 2)

    val std = r.manifest.commands.find(_.tokens.isEmpty).get
    assert(std.source == "data/mageck/count/combined/counts.txt")
    assert(std.cols.map(_.col) == Seq("sgrna", "gene"))
    assert(std.cols.head.name.contains("sgRNA")) // catalog hit
    val melt = std.melt.get
    assert(melt.key.get.name == "sample" && melt.value.get.name == "reads")
    assert(melt.valueColumns == Seq("samplea", "sampleb"))

    val varc = r.manifest.commands.find(_.tokens.nonEmpty).get
    assert(varc.source == "data/mageck/[GENE]/rra.sgrna_summary.txt")
    assert(varc.tokens.head.name.contains("gene"))
    assert(varc.melt.isEmpty)
    // "score" was not in the catalog -> write-back entry
    assert(r.newColumns == Seq("score"))
    assert(r.catalog.resolve("score").isDefined)
  }

  test("compiled manifest round-trips through JSON and executes") {
    val root = fixture()
    val r = Annotator.annotate(root, config, catalog)
    val json = ManifestWriter.toJson(r.manifest)
    val parsed = ManifestParser.parse(json)
    assert(parsed.commands.map(_.source) == r.manifest.commands.map(_.source))

    val out = Files.createTempDirectory("graft-ann-out").toString
    Runner.run(spark, parsed, s"$root/data", out)

    val counts = spark.read.parquet(s"$out/counts.parquet")
    // melted: ids (sgrna, gene) x 2 samples x 2 rows
    assert(counts.columns.toSeq == Seq("sgrna", "gene", "sample", "reads"))
    assert(counts.count() == 4)

    val summary = spark.read.parquet(s"$out/rra.sgrna_summary.parquet")
    assert(summary.columns.toSet == Set("sgrna", "score", "gene"))
    assert(summary.select("gene").distinct().count() == 2)
  }

  test("header columns read transparently from gzip files") {
    val root = Files.createTempDirectory("graft-gz")
    val d = root.resolve("data")
    Files.createDirectories(d)
    val out = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(d.resolve("t.csv.gz")))
    out.write("colA,colB\n1,2\n".getBytes("UTF-8")); out.close()
    val cols = Annotator.headerColumns(root.toString, "data/t.csv.gz")
    assert(cols == Seq("colA", "colB"))
    val r = Annotator.annotate(root.toString, Annotator.Config(),
      graft.model.FieldsCatalog(Nil))
    assert(r.manifest.commands.head.cols.map(_.col) == Seq("cola", "colb"))
    assert(r.manifest.commands.head.target == "t.parquet")
  }

  test("quoted header cell containing the separator splits correctly") {
    val root = Files.createTempDirectory("graft-qh")
    val d = root.resolve("data")
    Files.createDirectories(d)
    Files.write(d.resolve("q.csv"),
      "id,\"name, long\",score\n1,\"a, b\",2\n".getBytes("UTF-8"))
    val cols = Annotator.headerColumns(root.toString, "data/q.csv")
    assert(cols == Seq("id", "name, long", "score"))
  }

  test("zero-match variable pattern is an error (SURVEY §1.5.7)") {
    val root = fixture()
    val bad = Annotator.Config.parse(
      """{"variable_files":[{"pattern":"data/nope/[X]/f.txt"}]}""")
    val e = intercept[IllegalArgumentException](
      Annotator.annotate(root, bad, catalog))
    assert(e.getMessage.contains("matches no files"))
  }

  test("annotator and classification dialect lower a group plus an unclassified column alike") {
    val root = Files.createTempDirectory("graft-agree")
    Files.createDirectories(root.resolve("data"))
    Files.write(root.resolve("data/counts.tsv"),
      "sampleA\tsampleB\tnote\n10\t20\tx\n".getBytes)
    val cfg = Annotator.Config.parse(
      """{"variable_columns": [{"columns": ["sampleA", "sampleB"],
        |  "name": "sample", "desc": "reads"}]}""".stripMargin)
    val annotated = Annotator.annotate(root.toString, cfg, FieldsCatalog(Nil))
      .manifest.commands
    val classified = ManifestParser.parse("""{
      "files": {"standard": [{"file": "data/counts.tsv",
                              "columns": ["sampleA", "sampleB", "note"]}],
                "variable": []},
      "columns": {"standard": [],
        "variable": [{"columns": ["sampleA", "sampleB"], "name": "sample",
                      "desc": "reads"}]}}""").commands
    val shape = (c: graft.model.Command) => (c.source, c.target, c.cols, c.melt)
    assert(annotated.map(shape) == classified.map(shape))
    assert(annotated.head.cols.map(_.col) == Seq("note"))
    assert(annotated.head.melt.get.valueColumns == Seq("samplea", "sampleb"))
  }

  test("variable columns spanning two groups is an error") {
    val root = fixture()
    val bad = Annotator.Config.parse(
      """{"variable_columns":[
        |  {"columns":["sampleA"],"name":"s1","value_name":"v"},
        |  {"columns":["sampleB"],"name":"s2","value_name":"v"}]}""".stripMargin)
    val e = intercept[IllegalArgumentException](
      Annotator.annotate(root, bad, catalog))
    assert(e.getMessage.contains("multiple groups"))
  }
}
