package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.ext.TextAnalysis

/** Round-5 "wave 40" query set (q313–q316): corpus text analytics —
  * MSTTR lexical diversity, stopword-profile style cosine, a
  * MinHash-vs-exact-jaccard calibration harness, and RAKE keyword
  * extraction. Same contract as every wave: DuckDB oracle per query,
  * doubles round to 6 dp, integer sums BIGINT-cast in the oracle,
  * rankings pinned on exact integers before any float.
  */
object Wave40Queries extends QueryRegistry {
  import CoreQueries.T

  private val tokSql =
    "list_filter(string_split_regex(lower(text),'[^a-z0-9]+'), t -> len(t)>0)"

  // ---------------------------------------------------------------- q313
  /** MSTTR-50 lexical diversity per language
    * ([[graft.ops.ext.TextAnalysis.msttr]]): mean type-token ratio
    * over consecutive full 50-token segments — the length-robust
    * diversity metric beside Heaps' law (q267) and entropy (q143).
    */
  def q313(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.msttr(T(s, dir, "documents"), "lang", "doc_id", "text", 50)
      .withColumnRenamed("g", "lang").orderBy("lang")
  val q313Sql: String =
    s"""WITH tk AS (SELECT lang AS g, doc_id AS id, $tokSql AS toks
       |  FROM documents),
       |tok AS (SELECT g, id, generate_subscripts(toks, 1) - 1 AS pos,
       |    unnest(toks) AS tok
       |  FROM tk),
       |ch AS (SELECT g, id, pos // 50 AS chunk,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(count(DISTINCT tok) AS BIGINT) AS d
       |  FROM tok GROUP BY g, id, chunk),
       |q AS (SELECT g, id, (d * 1000000) // 50 AS qt
       |  FROM ch WHERE n = 50)
       |SELECT g AS lang, CAST(count(DISTINCT id) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_chunks,
       |  round(CAST(sum(qt) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |    / 1000000.0e0, 6) AS msttr
       |FROM q GROUP BY g ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q314
  /** Stopword-profile cosine between sources
    * ([[graft.ops.ext.TextAnalysis.stopwordProfileCosine]] over the
    * union of the four language stopword lists): content-blind
    * style/register similarity — the cheap domain-shift signal next
    * to the content-based JSD matrix (q276).
    */
  private val profileWords: Seq[String] =
    TextAnalysis.StopwordSets.values.flatten.toSeq.distinct.sorted
  def q314(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.stopwordProfileCosine(T(s, dir, "documents"),
      "source", "text", profileWords)
  val q314Sql: String = {
    val inList = profileWords.map(w => s"'$w'").mkString(", ")
    s"""WITH toks AS (SELECT source AS g, unnest($tokSql) AS tok
       |  FROM documents),
       |prof AS (SELECT g, tok, CAST(count(*) AS BIGINT) AS c
       |  FROM toks WHERE tok IN ($inList) GROUP BY g, tok),
       |norms AS (SELECT g, CAST(sum(c * c) AS BIGINT) AS nn
       |  FROM prof GROUP BY g),
       |dots AS (SELECT a.g AS ga, b.g AS gb,
       |    CAST(sum(a.c * b.c) AS BIGINT) AS dot
       |  FROM prof a JOIN prof b ON a.tok = b.tok AND a.g < b.g
       |  GROUP BY 1, 2)
       |SELECT ga AS group_a, gb AS group_b, dot,
       |  round(CAST(dot AS DOUBLE)
       |    / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)), 6)
       |    AS cosine
       |FROM dots JOIN norms na ON na.g = ga JOIN norms nb ON nb.g = gb
       |ORDER BY group_a, group_b""".stripMargin
  }

  // ---------------------------------------------------------------- q315
  /** MinHash calibration curve: over the shared-shingle candidate
    * pairs of the q208 sample corpus, exact jaccard deciles vs the
    * mean 16-hash md5-MinHash agreement — E[agreement] ≈ jaccard, and
    * this measures HOW WELL that holds per decile, i.e. whether the
    * sketch family can be trusted before a 100 TB dedup run commits
    * to a band threshold. Pair jaccards quantize to exact integer
    * millionths (shared·10⁶ div union) before any mean.
    *
    * Scale guards (both mirrored in the oracle): the corpus is the
    * ABSOLUTE-size 400-base-id sample ([[ExtQueries.nearDupSample]]),
    * and candidate pairs come only from shingles with df ≤ 64 — the
    * hard df cap on the co-occurrence join, so the hottest boilerplate
    * 3-gram can never contribute df² pairs. Pairs ALL of whose shared
    * shingles are stop-shingles (df > 64) fall out of the curve — the
    * documented cap semantics; each surviving pair's jaccard is still
    * computed over its FULL shingle sets.
    */
  def q315(s: SparkSession, dir: String): DataFrame = {
    val k = 16
    val maxDf = 64
    val corpus = ExtQueries.nearDupSample(s, dir)
    val toks = TextAnalysis.tokens(col("text"))
    val shs = corpus.select(col("doc_id"),
      array_distinct(transform(
        sequence(lit(1), greatest(size(toks) - 2, lit(1))),
        i => concat_ws(" ", slice(toks, i, lit(3))))).as("sh"))
      .filter(size(col("sh")) > 0)
    val gx = shs.select(col("doc_id"), explode(col("sh")).as("g")).persist()
    val mins = (0 until k).map(i =>
      min(md5(concat(lit(s"$i:"), col("g")))).as(s"m$i"))
    val sig = gx.groupBy("doc_id").agg(mins.head, mins.tail: _*)
    val sizes = gx.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    // df-capped candidate generation; exact verify on the full sets
    val gc = gx.join(
      gx.groupBy("g").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select("g"), Seq("g"))
    val cand = gc.as("x").join(gc.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    val shared = cand
      .join(gx.select(col("doc_id").as("id_a"), col("g")), Seq("id_a"))
      .join(gx.select(col("doc_id").as("id_b"), col("g")), Seq("id_b", "g"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("id_a"), col("nsh").as("na")),
        "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("nsh").as("nb")),
        "id_b")
      .withColumn("un", col("na") + col("nb") - col("shared"))
      .withColumn("jq", expr("shared * 1000000L div un"))
    val agree = (0 until k).map(i =>
      when(col(s"a.m$i") === col(s"b.m$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val pairs = shared
      .join(sig.as("a"), col("id_a") === col("a.doc_id"))
      .join(sig.as("b"), col("id_b") === col("b.doc_id"))
      .select(col("jq"), agree.as("agree"))
    pairs
      .withColumn("bucket", least(expr("jq * 10 div 1000000"), lit(9L)))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"), sum("jq").as("sj"),
        sum("agree").as("sa"))
      .select(col("bucket"), col("n_pairs"),
        round(col("sj").cast("double") / col("n_pairs").cast("double")
          / lit(1e6), 6).as("mean_jaccard"),
        round(col("sa").cast("double") /
          (col("n_pairs") * k).cast("double"), 6).as("mean_minhash"))
      .orderBy("bucket")
  }
  val q315Sql: String =
    s"""WITH corpus0 AS (${ExtQueries.nearDupCorpusSql}),
       |corpus AS (${ExtQueries.nearDupSampleSql()}),
       |tk AS (SELECT doc_id, $tokSql AS toks FROM corpus),
       |g AS (SELECT doc_id, unnest(sh) AS g FROM (
       |    SELECT doc_id, ${ExtQueries.shinglesSql} AS sh FROM tk)
       |  WHERE len(sh) > 0),
       |sig AS (SELECT doc_id,
       |    ${(0 until 16).map(i =>
            s"min(md5('$i:' || g)) AS m$i").mkString(",\n       |    ")}
       |  FROM g GROUP BY doc_id),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nsh
       |  FROM g GROUP BY 1),
       |gc AS (SELECT g.doc_id, g.g FROM g JOIN (
       |    SELECT g FROM g GROUP BY g HAVING count(*) <= 64) d
       |  ON g.g = d.g),
       |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM gc x JOIN gc y ON x.g = y.g AND x.doc_id < y.doc_id),
       |shared AS (SELECT c.id_a, c.id_b,
       |    CAST(count(*) AS BIGINT) AS shared
       |  FROM cand c JOIN g x ON x.doc_id = c.id_a
       |              JOIN g y ON y.doc_id = c.id_b AND y.g = x.g
       |  GROUP BY 1, 2),
       |pj AS (SELECT s.id_a, s.id_b,
       |    (s.shared * 1000000) // (a.nsh + b.nsh - s.shared) AS jq
       |  FROM shared s JOIN sz a ON a.doc_id = s.id_a
       |                JOIN sz b ON b.doc_id = s.id_b),
       |pairs AS (SELECT p.jq,
       |    ${(0 until 16).map(i =>
            s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
            .mkString("\n       |    + ")} AS agree
       |  FROM pj p JOIN sig sa ON sa.doc_id = p.id_a
       |            JOIN sig sb ON sb.doc_id = p.id_b)
       |SELECT least(jq * 10 // 1000000, 9) AS bucket,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  round(CAST(sum(jq) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |    / 1000000.0e0, 6) AS mean_jaccard,
       |  round(CAST(sum(agree) AS DOUBLE)
       |    / CAST(count(*) * 16 AS DOUBLE), 6) AS mean_minhash
       |FROM pairs GROUP BY 1 ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q316
  /** RAKE keyword extraction
    * ([[graft.ops.ext.TextAnalysis.rakeKeywords]], en corpus, top 15):
    * stopword-free phrase runs scored by Σ deg(w)/freq(w) — the
    * phrase-level counterpart to the single-token TF-IDF top terms
    * (q63) and TextRank (q252), ranked on exact integer quotients.
    */
  def q316(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.rakeKeywords(
      T(s, dir, "documents").filter(col("lang") === "en"),
      "doc_id", "text", TextAnalysis.StopwordSets("en"), k = 15)
  val q316Sql: String = {
    val stopList = TextAnalysis.StopwordSets("en")
      .map(w => s"'$w'").mkString(", ")
    s"""WITH tk AS (SELECT doc_id AS id, $tokSql AS toks
       |  FROM documents WHERE lang = 'en'),
       |tok AS (SELECT id, generate_subscripts(toks, 1) - 1 AS pos,
       |    unnest(toks) AS tok
       |  FROM tk),
       |st AS (SELECT id, pos, tok, tok IN ($stopList) AS stop FROM tok),
       |runs AS (SELECT id, pos, tok, stop,
       |    count(*) FILTER (WHERE NOT stop) OVER (PARTITION BY id
       |      ORDER BY pos) AS nsr
       |  FROM st),
       |ns AS (SELECT id, pos - nsr AS grp, pos, tok
       |  FROM runs WHERE NOT stop),
       |phr AS (SELECT id, grp, CAST(count(*) AS BIGINT) AS plen,
       |    string_agg(tok, ' ' ORDER BY pos) AS phrase
       |  FROM ns GROUP BY id, grp HAVING count(*) <= 4),
       |words AS (SELECT plen, unnest(string_split(phrase, ' ')) AS w
       |  FROM phr),
       |stats AS (SELECT w, CAST(sum(plen) AS BIGINT) AS deg,
       |    CAST(count(*) AS BIGINT) AS freq
       |  FROM words GROUP BY w),
       |dphr AS (SELECT DISTINCT phrase, plen FROM phr),
       |pw AS (SELECT phrase, plen, unnest(string_split(phrase, ' ')) AS w
       |  FROM dphr),
       |scored AS (SELECT p.phrase, p.plen,
       |    CAST(sum((s.deg * 1000000) // s.freq) AS BIGINT) AS qscore
       |  FROM pw p JOIN stats s ON s.w = p.w
       |  GROUP BY p.phrase, p.plen)
       |SELECT phrase, plen AS n_words,
       |  round(CAST(qscore AS DOUBLE) / 1000000.0e0, 6) AS score
       |FROM scored ORDER BY qscore DESC, phrase LIMIT 15""".stripMargin
  }

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q313_msttr" -> (q313 _),
    "q314_stopword_cosine" -> (q314 _),
    "q315_minhash_calibration" -> (q315 _),
    "q316_rake_keywords" -> (q316 _))

  val oracles: Map[String, String] = Map(
    "q313_msttr" -> q313Sql,
    "q314_stopword_cosine" -> q314Sql,
    "q315_minhash_calibration" -> q315Sql,
    "q316_rake_keywords" -> q316Sql)
}
