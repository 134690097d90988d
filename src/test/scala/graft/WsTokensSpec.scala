package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, ArrayTransform, Expression}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, TextAnalysis}
import graft.functions.{MinHashSig, WsTokenHashes, WsTokens}

/** The native whitespace tokenizer (`ws_tokens`, `ws_token_hashes`) is
  * bit-identical to the `filter(split(x, "\\s+"), length > 0)` form it
  * replaced, in generated and in interpreted code, on every input class
  * that form treats specially; the text helpers plan it with no
  * interpreted higher-order function; the LSH bucket cap signs each text
  * in one stage; and the quality helpers take an empty text in both ANSI
  * modes. */
class WsTokensSpec extends SparkSpec {
  import spark.implicits._

  private def splitTokens(x: Column): Column =
    filter(split(x, "\\s+"), t => length(t) > 0)

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val ws = Seq(" ", "\t", "\n", "\u000B", "\f", "\r")

  private val fixed: Seq[Option[Array[Byte]]] = {
    def u(s: String) = Some(s.getBytes("UTF-8"))
    def hex(h: String) = Some(h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
    Seq(None, u(""), u(" "), u("   "), u(ws.mkString), u(ws.mkString * 3)) ++
      ws.map(c => u(s"ab${c}Cd")) ++
      ws.map(c => u(s"$c${c}lead and trail$c")) ++
      Seq(u("  Hello   World  "), u("\t\tTabs\r\nand CRLF\r\n"),
        // Java's \s does not match these: they are token characters
        u("a\u00A0b"), u("em\u2003space"), u("ideographic\u3000space"),
        u(" \u00A0 "), u("x \u2003 y \u3000 z"),
        // multi-byte and supplementary characters
        u("Héllo WÖRLD ß İstanbul"), u("日本語 テキスト\tの 試験"),
        u("😀 𝄞x 😀😀 ok"), u("ÀÉÎ\u000BÕÜ"),
        // not UTF-8: a truncated lead byte before a space, a lone 0xFF, an
        // encoded surrogate, an overlong '/', a truncated tail, a stray
        // continuation byte, invalid bytes inside a whitespace run
        hex("61C3206220"), hex("FF2061"), hex("EDA0802061"), hex("C0AF2078"),
        hex("61206262E282"), hex("618062206320"), hex("2009FE0A41FF"))
  }

  private def randomText(r: scala.util.Random): String = {
    val pool = Seq("a", "b", "Z", "q", "é", "Ä", "日", "😀", "İ", "ß", ".", "#",
      "\u00A0", "\u2003", "\u3000") ++ ws ++ ws
    Seq.fill(r.nextInt(40))(pool(r.nextInt(pool.length))).mkString
  }

  /** Corpus as a parquet scan, so the projections under test run in the
    * plan's own (generated or interpreted) code, not in the optimizer's
    * local-relation folding. */
  private lazy val corpus: DataFrame = {
    val r = new scala.util.Random(20261020L)
    val rows = fixed ++ Seq.fill(400)(Some(randomText(r).getBytes("UTF-8")))
    val dir = tmpDir("ws_tokens") + "/corpus"
    rows.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("id", "b")
      .select(col("id"), col("b").cast("string").alias("s"))
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def mismatches(): Long = corpus.select(col("id"),
      call_function("ws_tokens", col("s")).alias("t"),
      splitTokens(col("s")).alias("t_ref"),
      call_function("ws_token_hashes", lower(col("s"))).alias("h"),
      transform(splitTokens(lower(col("s"))), t => xxhash64(t)).alias("h_ref"),
      Dedup.shingleHashes(col("s"), 3).alias("sh"),
      call_function("shingle_hashes",
        transform(splitTokens(lower(col("s"))), t => xxhash64(t)), lit(3)).alias("sh_ref"))
    .filter(!(col("t") <=> col("t_ref")) || !(col("h") <=> col("h_ref")) ||
      !(col("sh") <=> col("sh_ref")))
    .count()

  test("ws_tokens and ws_token_hashes equal the split/filter form, generated and interpreted") {
    assert(corpus.count() === fixed.size + 400)
    assert(mismatches() === 0L)
    withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(mismatches() === 0L)
    }
    // the boundaries the corpus is built to exercise
    val toks = Seq("ab\u000BCd", "a\u00A0b", "x \u2003 y \u3000 z", "  Hello   World  ")
      .toDF("s").select(TextAnalysis.tokens(col("s"))).as[Seq[String]].collect().toSeq
    assert(toks === Seq(Seq("ab", "Cd"), Seq("a\u00A0b"), Seq("x", "\u2003", "y", "\u3000", "z"),
      Seq("Hello", "World")))
    val nul = corpus.filter(col("s").isNull)
      .select(Dedup.tokens(col("s")), Dedup.tokenHashes(col("s"))).head()
    assert(nul.isNullAt(0) && nul.isNullAt(1))
    // a NULL literal or a number is cast to string first, as split casts it
    val cast = spark.range(1).select(TextAnalysis.tokens(lit(null)),
      TextAnalysis.tokens(lit(42))).head()
    assert(cast.isNullAt(0) && cast.getSeq[String](1) === Seq("42"))
  }

  test("the text helpers plan no interpreted higher-order function") {
    def exprs(c: Column): Seq[Expression] =
      corpus.select(c).queryExecution.optimizedPlan.collect { case p => p.expressions }
        .flatten.flatMap(_.collect { case e => e })
    for ((name, c) <- Seq("Dedup.tokens" -> Dedup.tokens(col("s")),
        "TextAnalysis.tokens" -> TextAnalysis.tokens(col("s")),
        "Dedup.shingleHashes" -> Dedup.shingleHashes(col("s"), 3))) {
      val es = exprs(c)
      assert(!es.exists(e => e.isInstanceOf[ArrayFilter] || e.isInstanceOf[ArrayTransform]),
        s"$name: ${es.mkString(", ")}")
      assert(es.exists(e => e.isInstanceOf[WsTokens] || e.isInstanceOf[WsTokenHashes]), name)
    }
    val plan = corpus.select(Dedup.shingleHashes(col("s"), 3))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan) // "*(n)" = codegen'd stage
  }

  /** Stages of a finished AQE plan whose own operators (down to the next
    * stage boundary) evaluate an expression `p` accepts. A reused
    * exchange is not a stage of its own. */
  private def stagesEvaluating(plan: SparkPlan)(p: Expression => Boolean): Int = {
    def own(n: SparkPlan): Boolean = n match {
      case _: QueryStageExec => false
      case _ => n.expressions.exists(_.find(p).isDefined) || n.children.exists(own)
    }
    def stageRoots(n: SparkPlan): Seq[SparkPlan] = n match {
      case a: AdaptiveSparkPlanExec => stageRoots(a.executedPlan)
      case s: QueryStageExec => s.plan match {
        case _: ReusedExchangeExec => Nil
        case e => e +: e.children.flatMap(stageRoots)
      }
      case _ => n.children.flatMap(stageRoots)
    }
    val top = plan match { case a: AdaptiveSparkPlanExec => a.executedPlan; case q => q }
    (top +: stageRoots(top)).count(own)
  }

  test("minhashBandCandidates signs each text in one stage: the bucket cap rides the join's shuffle") {
    graft.functions.GraftFunctions.register(spark)
    // a computed relation: a local one would fold the signatures into a
    // LocalTableScan at plan time
    val k = col("id") % 50
    val docs = spark.range(0, 300).select(col("id"),
      concat_ws(" ", lit("document"), k, lit("about topic"), k % 7,
        lit("with words"), k % 13, lit("and"), k % 3).alias("text"))
    val hashed = docs.select(col("id"), Dedup.shingleHashes(col("text"), 3).alias("hs"))
    val cands = Dedup.minhashBandCandidates(hashed, numHashes = 64, bands = 16)
    val got = cands.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plan = cands.queryExecution.executedPlan
    assert(stagesEvaluating(plan)(_.isInstanceOf[MinHashSig]) === 1, plan.toString)
    assert(plan.toString.contains("ReusedExchange"), plan.toString)
    // copies of one text share every band: each such pair is a candidate
    assert(Seq((0L, 50L), (0L, 250L), (50L, 250L), (7L, 57L)).forall(got.contains))
    assert(got.forall { case (a, b) => a < b })
  }

  test("qualityScore and qualityFeatures take empty and blank texts in both ANSI modes") {
    val df = Seq((1L, ""), (2L, "   ")).toDF("id", "text")
    for (ansi <- Seq("true", "false")) withConf("spark.sql.ansi.enabled" -> ansi) {
      val score = df.orderBy("id").select(TextAnalysis.qualityScore(col("text")))
        .as[Double].collect().toSeq
      assert(score === Seq(0.0, 0.0), s"ansi=$ansi")
      val f = TextAnalysis.qualityFeatures(df, "id", "text").orderBy("id").collect()
      // (n_chars, n_tokens, chars_per_token, punct_ratio, stopword_ratio)
      assert(f.map(_.toSeq.tail).toSeq === Seq(
        Seq(0, 0, null, null, null),
        Seq(3, 0, null, 0.0, null)), s"ansi=$ansi")
    }
  }
}
