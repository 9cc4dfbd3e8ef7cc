package graft.model

import org.scalatest.funsuite.AnyFunSuite

class ManifestParserSpec extends AnyFunSuite {

  test("emitted dialect: nested command lists flatten") {
    val m = ManifestParser.parse(
      """{"commands": [
        |  [{"command":"hot.Parquet","params":{"source":"data/a.csv","target":"a.parquet","cols":["x","y"]}}],
        |  [{"command":"hot.Parquet","params":{"source":"data/[G]/b.csv","target":"b.parquet",
        |    "cols":[{"col":"x","name":"Ex"}],
        |    "concat":[{"token":"G","name":"gene"}],
        |    "melt":{"key":{"name":"k"},"value":{"name":"v"}}}}]
        |]}""".stripMargin)
    assert(m.commands.size == 2)
    assert(m.commands.head.cols.map(_.col) == Seq("x", "y"))
    val v = m.commands(1)
    assert(v.tokens.head.name.contains("gene"))
    assert(v.melt.get.key.get.name == "k")
  }

  test("dsv dialect: kwargs.read + kwargs.melt + tokens") {
    val m = ManifestParser.parse(
      """{"dsv": [{"source":"$data_directory/m/[GENE]/f.txt","name":"n",
        |  "tokens":[{"token":"[GENE]","name":"Gene","desc":"d"}],
        |  "kwargs":{"read":{"sep":"\t","index_col":"sgrna"},"melt":{}},
        |  "cols":[{"col":"sgrna","name":"sgRNA"}]}]}""".stripMargin)
    val c = m.commands.head
    assert(c.read.sep.contains("\t"))
    assert(c.read.indexCol.contains("sgrna"))
    assert(c.melt.isDefined)
    assert(c.target == "f.parquet") // derived from source basename
  }

  test("bare command array parses") {
    val m = ManifestParser.parse(
      """[{"source":"data/x.tsv","target":"x.parquet"}]""")
    assert(m.commands.head.source == "data/x.tsv")
  }

  test("classification dialect validates then compiles to commands") {
    val m = ManifestParser.parse("""{
      "files": {
        "standard": [{"file": "rra.summary.txt", "columns": ["gene", "score"]}],
        "variable": [{"pattern": "counts/[sample].tsv",
                      "regex": "counts/(?P<sample>.+)\\.tsv",
                      "columns": ["sgrna", "gene", "s1", "s2"]}]
      },
      "columns": {
        "standard": [
          {"column": "gene", "name": "Gene", "desc": "gene id"},
          {"column": "score", "name": "Score", "desc": "rra score"},
          {"column": "sgrna", "name": "sgRNA", "desc": "guide"}],
        "variable": [
          {"columns": ["s1", "s2"], "name": "sample", "desc": "sample reads"}]
      }}""")
    assert(m.commands.size == 2)
    val std = m.commands.head
    assert(std.source == "rra.summary.txt" && std.target == "rra.summary.parquet")
    assert(std.cols.map(_.col) == Seq("gene", "score"))
    assert(std.cols.head.name.contains("Gene") && std.melt.isEmpty)
    val v = m.commands(1)
    assert(v.tokens.map(_.token) == Seq("sample"))
    assert(v.melt.exists(_.valueColumns == Seq("s1", "s2")))
    assert(v.melt.flatMap(_.key).exists(_.name == "sample"))
    assert(v.cols.map(_.col) == Seq("sgrna", "gene"))
  }

  test("classification dialect melts a group beside an unclassified column") {
    val m = ManifestParser.parse("""{
      "files": {"standard": [{"file": "counts.tsv",
                              "columns": ["sampleA", "sampleB", "note"]}],
                "variable": []},
      "columns": {"standard": [],
        "variable": [{"columns": ["sampleA", "sampleB"], "name": "sample",
                      "desc": "reads"}]}}""")
    val c = m.commands.head
    assert(c.cols == Seq(ColMeta("note")))
    assert(c.melt.contains(MeltSpec(Some(MeltEnd("sample", Some("reads"))),
      Some(MeltEnd("value")), Seq("samplea", "sampleb"))))
  }

  test("malformed classification manifest fails with pointed errors") {
    val bad = """{
      "files": {"standard": [{"columns": ["a", 3]}], "variable": []},
      "columns": {"standard": [{"column": "a", "name": "A"}]}}"""
    val e = intercept[IllegalArgumentException](ManifestParser.parse(bad))
    assert(e.getMessage.contains("$.files.standard[0].file: required"))
    assert(e.getMessage.contains("$.files.standard[0].columns[1]: expected string"))
    assert(e.getMessage.contains("$.columns.standard[0].desc: required"))
    assert(e.getMessage.contains("$.columns.variable: required"))
  }

  test("unknown dialect raises") {
    intercept[IllegalArgumentException] {
      ManifestParser.parse("""{"bogus": 1}""")
    }
  }
}

class FieldsCatalogSpec extends AnyFunSuite {
  val scoped: FieldsCatalog = FieldsCatalog.parse(
    """[
      |{"column":["p.value","pvalue","p-value"],
      | "metadata":[{"process":"*","file":"*","name":"P-Value","desc":"sig"}]},
      |{"column":["id"],
      | "metadata":[{"process":"*","file":"*","name":"Generic Id","desc":""},
      |             {"process":"mageck","file":"genes.txt","name":"Gene Id","desc":""}]}
      |]""".stripMargin)

  test("multi-alias resolves every spelling (J3)") {
    for (a <- Seq("p.value", "PVALUE", " p-value "))
      assert(scoped.resolve(a).map(_.name).contains("P-Value"))
  }

  test("exact scope shadows wildcard (J2)") {
    assert(scoped.resolve("id", "mageck", "genes.txt")
      .map(_.name).contains("Gene Id"))
    assert(scoped.resolve("id", "other", "f").map(_.name)
      .contains("Generic Id"))
  }

  test("no match for unknown column or unmatched scope") {
    assert(scoped.resolve("zzz").isEmpty)
  }

  test("flat dialect + write-back round trip") {
    val flat = FieldsCatalog.parse(
      """[{"col":"nes","name":"NES","desc":"normalized"}]""")
    val merged = flat ++ FieldsCatalog(Seq(FieldEntry("new", name = "New")))
    val json = FieldsCatalog.toFlatJson(merged)
    val back = FieldsCatalog.parse(json)
    assert(back.entries.map(_.alias) == Seq("nes", "new")) // append-only order
    assert(back.resolve("NES ").map(_.name).contains("NES"))
  }

  test("catalog-order tie break at equal specificity") {
    val cat = FieldsCatalog(Seq(
      FieldEntry("x", name = "First"), FieldEntry("x", name = "Second")))
    assert(cat.resolve("x").map(_.name).contains("First"))
  }
}
