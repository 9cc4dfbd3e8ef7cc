package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 "wave 11" query set (q202-q205): isotonic (PAV) score
  * calibration via the exact minimax characterization, integer-exact
  * 1-D Wasserstein distribution drift, Kneser-Ney-smoothed bigram
  * perplexity (the production LM smoothing, vs q200's add-k), and
  * video frame-sampling over a deterministic container through pure
  * binary expressions. Same contract as every wave: DuckDB oracle per
  * query, doubles round to 6 dp, integer sums BIGINT-cast in the
  * oracle, deterministic tie-breaks everywhere.
  */
object Wave11Queries extends QueryRegistry {
  import CoreQueries.T

  // ---------------------------------------------------------------- q202
  /** Isotonic calibration of a user-engagement score against a
    * high-value outcome (any event over 200 — balanced positive rate
    * at every SF, unlike "any purchase" which saturates at 1.0),
    * via PAV's minimax characterization: over 20 equal-width
    * score buckets, iso_rate(b) = max_{i<=b} min_{j>=b} rate(i..j).
    * No sequential pool-adjacent loop — the minimax form is two
    * bounded aggregations over O(K²) bucket pairs, so the isotonic
    * fit DISTRIBUTES (the classic PAV scan doesn't). Scores sum in
    * 1e-2 fixed point; bucket edges are integer arithmetic; every
    * segment average is one integer÷integer division.
    */
  def q202(s: SparkSession, dir: String): DataFrame = {
    val K = 20
    val users = ExtQueries.events(s, dir)
      .groupBy("user_id")
      .agg(sum(floor(col("value") * 100.0 + 0.5).cast("long")).as("score"),
        max((col("value") > 200.0).cast("long")).as("y"))
    val bounds = users.agg(min("score").as("smin"), max("score").as("smax"))
    val bucketed = users.crossJoin(broadcast(bounds))
      .select(expr(s"least($K - 1, (score - smin) * $K div (smax - smin + 1))")
        .as("bucket"), col("y"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"), sum("y").as("pos"))
    val wr = Window.orderBy("bucket")
    val pr = bucketed
      .withColumn("rn", row_number().over(wr))
      .withColumn("cs", sum("cnt").over(wr))
      .withColumn("ps", sum("pos").over(wr))
    val pairs = pr.as("j").join(pr.as("i"), col("i.rn") <= col("j.rn"))
      .join(pr.as("i0"), col("i0.rn") === col("i.rn") - 1, "left")
      .select(col("i.rn").as("i"), col("j.rn").as("j"),
        ((col("j.ps") - coalesce(col("i0.ps"), lit(0L))).cast("double") /
          (col("j.cs") - coalesce(col("i0.cs"), lit(0L)))).as("avg"))
    val f = pr.select(col("rn").as("r"), col("bucket"), col("cnt"), col("pos"))
      .join(pairs, col("i") <= col("r") && col("j") >= col("r"))
      .groupBy("r", "bucket", "cnt", "pos", "i").agg(min("avg").as("mn"))
      .groupBy("r", "bucket", "cnt", "pos").agg(max("mn").as("f"))
    f.select(col("bucket"), col("cnt").as("n"),
        round(col("pos").cast("double") / col("cnt"), 6).as("raw_rate"),
        round(col("f"), 6).as("iso_rate"))
      .orderBy("bucket")
  }
  val q202Sql: String =
    """WITH u AS (SELECT user_id,
      |    CAST(sum(CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT)) AS BIGINT)
      |      AS score,
      |    max(CASE WHEN value > 200.0e0 THEN 1 ELSE 0 END)::BIGINT
      |      AS y
      |  FROM events GROUP BY user_id),
      |bounds AS (SELECT min(score) AS smin, max(score) AS smax FROM u),
      |bk AS (SELECT least(19, (score - smin) * 20 // (smax - smin + 1))
      |    AS bucket, y
      |  FROM u, bounds),
      |agg AS (SELECT bucket, count(*)::BIGINT AS cnt,
      |    CAST(sum(y) AS BIGINT) AS pos
      |  FROM bk GROUP BY bucket),
      |pr AS (SELECT bucket, cnt, pos,
      |    row_number() OVER (ORDER BY bucket) AS rn,
      |    CAST(sum(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cs,
      |    CAST(sum(pos) OVER (ORDER BY bucket) AS BIGINT) AS ps
      |  FROM agg),
      |pairs AS (SELECT i.rn AS i, j.rn AS j,
      |    (j.ps - coalesce(i0.ps, 0))::DOUBLE / (j.cs - coalesce(i0.cs, 0))
      |      AS avg
      |  FROM pr j JOIN pr i ON i.rn <= j.rn
      |  LEFT JOIN pr i0 ON i0.rn = i.rn - 1),
      |mn AS (SELECT r.rn AS r, r.bucket, r.cnt, r.pos, p.i,
      |    min(p.avg) AS mn
      |  FROM pr r JOIN pairs p ON p.i <= r.rn AND p.j >= r.rn
      |  GROUP BY 1, 2, 3, 4, 5),
      |f AS (SELECT r, bucket, cnt, pos, max(mn) AS f
      |  FROM mn GROUP BY 1, 2, 3, 4)
      |SELECT bucket, cnt AS n, round(pos::DOUBLE / cnt, 6) AS raw_rate,
      |  round(f, 6) AS iso_rate
      |FROM f ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q203
  /** 1-D Wasserstein (earth-mover) distance between each source's doc
    * length distribution and the pooled corpus — the drift metric that
    * sees HOW FAR mass moved, not just that it moved (PSI/KS, q166 /
    * q153, saturate on disjoint supports). W1 = Σ |F_s - F_pool| dx
    * over the value grid, computed EXACTLY: each term is the integer
    * |cum_s·N − cum_pool·n_s| · gap, summed as BIGINT, divided once at
    * the end by n_s·N. No floating accumulation anywhere.
    */
  def q203(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents").select("source", "n_chars")
    val vals = d.select(col("n_chars").as("v")).distinct()
    val srcs = d.groupBy("source").agg(count(lit(1)).as("n_s"))
    val cnts = d.groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
    val pool = d.groupBy(col("n_chars").as("v")).agg(count(lit(1)).as("cp"))
    val total = d.agg(count(lit(1)).as("n_tot"))
    val grid = srcs.crossJoin(vals)
      .join(cnts, Seq("source", "v"), "left")
      .join(pool, Seq("v"))
      .crossJoin(broadcast(total))
    val ws = Window.partitionBy("source").orderBy("v")
    val cum = grid
      .withColumn("cum_s", sum(coalesce(col("c"), lit(0L))).over(ws))
      .withColumn("cum_p", sum(col("cp")).over(ws))
      .withColumn("gap", lead("v", 1).over(ws) - col("v"))
      .filter(col("gap").isNotNull)
    cum.select(col("source"), col("n_s"), col("n_tot"),
        (abs(col("cum_s") * col("n_tot") - col("cum_p") * col("n_s"))
          * col("gap")).as("t"))
      .groupBy("source", "n_s", "n_tot").agg(sum("t").as("st"))
      .select(col("source"), col("n_s").as("n_docs"),
        round(col("st").cast("double") /
          (col("n_s") * col("n_tot")).cast("double"), 6).as("w1"))
      .orderBy("source")
  }
  val q203Sql: String =
    """WITH d AS (SELECT source, n_chars FROM documents),
      |vals AS (SELECT DISTINCT n_chars AS v FROM d),
      |srcs AS (SELECT source, count(*)::BIGINT AS n_s FROM d GROUP BY 1),
      |cnts AS (SELECT source, n_chars AS v, count(*)::BIGINT AS c
      |  FROM d GROUP BY 1, 2),
      |pool AS (SELECT n_chars AS v, count(*)::BIGINT AS cp FROM d GROUP BY 1),
      |tot AS (SELECT count(*)::BIGINT AS n_tot FROM d),
      |grid AS (SELECT s.source, s.n_s, v.v,
      |    coalesce(c.c, 0)::BIGINT AS c, p.cp, t.n_tot
      |  FROM srcs s CROSS JOIN vals v
      |  LEFT JOIN cnts c ON c.source = s.source AND c.v = v.v
      |  JOIN pool p ON p.v = v.v
      |  CROSS JOIN tot t),
      |cum AS (SELECT source, n_s, n_tot,
      |    CAST(sum(c) OVER w AS BIGINT) AS cum_s,
      |    CAST(sum(cp) OVER w AS BIGINT) AS cum_p,
      |    lead(v, 1) OVER w - v AS gap
      |  FROM grid WINDOW w AS (PARTITION BY source ORDER BY v))
      |SELECT source, n_s AS n_docs,
      |  round(CAST(sum(abs(cum_s * n_tot - cum_p * n_s) * gap) AS DOUBLE)
      |        / (n_s * n_tot)::DOUBLE, 6) AS w1
      |FROM cum WHERE gap IS NOT NULL
      |GROUP BY source, n_s, n_tot ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q204
  /** Kneser-Ney-smoothed bigram perplexity on the q200 split — the
    * production LM smoothing (absolute discount D=0.75 + continuation
    * probabilities), scored on the same held-out docs so q200 vs q204
    * IS the add-k-vs-KN comparison. All model quantities are integer
    * count frames (c12, c1, distinct-continuation counts, bigram-type
    * and vocab totals); the probability is one fixed expression shape
    * in both engines, and each ln-term quantizes to 1e-4 before the
    * per-doc sum.
    */
  def q204(s: SparkSession, dir: String): DataFrame = {
    val toks = T(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(graft.ops.ext.TextAnalysis.tokens(col("text")))
          .as(Seq("pos", "tok")))
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    val bigrams = toks
      .withColumn("w2", lead("tok", 1).over(wd))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("tok").as("w1"), col("w2"))
    val train = bigrams.filter(col("doc_id") % 5 =!= 0)
    val held = bigrams.filter(col("doc_id") % 5 === 0)
    val big = train.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val fw = train.groupBy("w1")
      .agg(count(lit(1)).as("c1"), countDistinct("w2").as("n1f"))
    val bw = train.select("w1", "w2").distinct()
      .groupBy("w2").agg(count(lit(1)).as("n1b"))
    val scal = big.agg(count(lit(1)).as("B")).crossJoin(
      toks.filter(col("doc_id") % 5 =!= 0).agg(countDistinct("tok").as("V")))
    val pcont = (coalesce(col("n1b"), lit(0L)) + lit(0.5)) /
      (col("B") + lit(0.5) * col("V"))
    val p = when(col("c1").isNotNull,
      greatest(coalesce(col("c12"), lit(0L)).cast("double") - 0.75, lit(0.0))
        / col("c1")
        + lit(0.75) * col("n1f") / col("c1") * pcont)
      .otherwise(pcont)
    held
      .join(broadcast(big), Seq("w1", "w2"), "left")
      .join(broadcast(fw), Seq("w1"), "left")
      .join(broadcast(bw), Seq("w2"), "left")
      .crossJoin(broadcast(scal))
      .select(col("doc_id"),
        floor(-log(p) * 10000.0 + 0.5).cast("long").as("d"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("d")).as("sd"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sd").cast("double") / col("n_bigrams") / 10000.0, 6)
          .as("avg_nll"))
      .orderBy("doc_id")
  }
  val q204Sql: String =
    """WITH tk AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text),'[^a-z0-9]+'),
      |                t -> len(t)>0) AS toks
      |  FROM documents),
      |bg AS (SELECT doc_id, toks[p] AS w1, toks[p+1] AS w2
      |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS p
      |        FROM tk WHERE len(toks) >= 2)),
      |train AS (SELECT * FROM bg WHERE doc_id % 5 <> 0),
      |held AS (SELECT * FROM bg WHERE doc_id % 5 = 0),
      |big AS (SELECT w1, w2, count(*)::BIGINT AS c12
      |  FROM train GROUP BY 1, 2),
      |fw AS (SELECT w1, count(*)::BIGINT AS c1,
      |    count(DISTINCT w2)::BIGINT AS n1f
      |  FROM train GROUP BY 1),
      |bw AS (SELECT w2, count(*)::BIGINT AS n1b FROM (
      |    SELECT DISTINCT w1, w2 FROM train) GROUP BY 1),
      |scal AS (SELECT (SELECT count(*)::BIGINT FROM big) AS B,
      |    (SELECT count(DISTINCT tok)::BIGINT FROM (
      |       SELECT unnest(toks) AS tok FROM tk WHERE doc_id % 5 <> 0)) AS V),
      |terms AS (SELECT held.doc_id,
      |    CAST(floor(-ln(
      |      CASE WHEN fw.c1 IS NOT NULL THEN
      |        greatest(coalesce(big.c12, 0)::DOUBLE - 0.75e0, 0.0e0) / fw.c1
      |        + 0.75e0 * fw.n1f / fw.c1
      |          * ((coalesce(bw.n1b, 0) + 0.5e0) / (s.B + 0.5e0 * s.V))
      |      ELSE (coalesce(bw.n1b, 0) + 0.5e0) / (s.B + 0.5e0 * s.V)
      |      END) * 10000.0e0 + 0.5e0) AS BIGINT) AS d
      |  FROM held
      |  LEFT JOIN big ON big.w1 = held.w1 AND big.w2 = held.w2
      |  LEFT JOIN fw ON fw.w1 = held.w1
      |  LEFT JOIN bw ON bw.w2 = held.w2
      |  CROSS JOIN scal s)
      |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
      |  round(CAST(sum(d) AS DOUBLE) / count(*) / 10000.0e0, 6) AS avg_nll
      |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q205
  /** Video frame sampling ([[graft.ops.ext.Multimodal.frameSample]]):
    * every 4th frame of each GVID container, addressed and digested by
    * pure binary substring expressions. The fixture is generative
    * (byte j of frame f in file v = 97 + (7f + 3j + 11v) mod 26, all
    * printable ASCII), so the oracle REBUILDS every sampled frame
    * from the formula and md5s the identical bytes — a formulaic
    * fixture oracle, stronger than q149's constants table.
    */
  def q205(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ext.Multimodal
    val base = java.nio.file.Paths.get("/root/repo/benchdata/graft_fixtures/gvid_v1")
    java.nio.file.Files.createDirectories(base)
    val sizes = Seq(0 -> 16, 1 -> 24, 2 -> 8)
    sizes.foreach { case (v, n) =>
      val body = Array.tabulate(n * 64) { k =>
        val (f, j) = (k / 64, k % 64)
        (97 + (f * 7 + j * 3 + v * 11) % 26).toByte
      }
      val bytes = s"GVID%04d".format(n).getBytes("US-ASCII") ++ body
      java.nio.file.Files.write(base.resolve(s"v$v.gvid"), bytes)
    }
    Multimodal.frameSample(
        Multimodal.readBinary(s, base.toString, "*.gvid"), stride = 4)
      .orderBy("file", "frame_idx")
  }
  val q205Sql: String =
    """WITH files AS (SELECT * FROM (VALUES
      |    (0, 'v0.gvid', 16), (1, 'v1.gvid', 24), (2, 'v2.gvid', 8))
      |  t(v, file, n)),
      |fr AS (SELECT v, file, n, unnest(range(0, n, 4)) AS frame_idx
      |  FROM files),
      |by_j AS (SELECT v, file, n, frame_idx, unnest(range(0, 64)) AS j
      |  FROM fr),
      |frames AS (SELECT file, n, frame_idx,
      |    string_agg(chr(97 + CAST(frame_idx * 7 + j * 3 + v * 11 AS INT)
      |                        % 26), '' ORDER BY j) AS fs
      |  FROM by_j GROUP BY 1, 2, 3)
      |SELECT file, n::BIGINT AS n_frames, frame_idx, md5(fs) AS digest
      |FROM frames ORDER BY file, frame_idx""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q202_isotonic" -> (q202 _),
    "q203_wasserstein" -> (q203 _),
    "q204_kneser_ney" -> (q204 _),
    "q205_frame_sample" -> (q205 _))

  val oracles: Map[String, String] = Map(
    "q202_isotonic" -> q202Sql,
    "q203_wasserstein" -> q203Sql,
    "q204_kneser_ney" -> q204Sql,
    "q205_frame_sample" -> q205Sql)
}
