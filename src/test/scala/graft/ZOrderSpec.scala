package graft

import org.apache.spark.sql.functions._

import graft.functions.ZOrder
import graft.ops.{Maintenance, TxLog}

/** Z-order layout: key correctness against a Scala model, and the
  * data-skipping property the layout exists for — every output file of a
  * z-ordered rewrite bounds BOTH dimensions, where a lexicographic sort
  * only bounds the leading one. */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("interleave2 matches the bit-interleaving model") {
    def model(a: Long, b: Long, bits: Int): Long =
      (0 until bits).map { i =>
        (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
      }.sum
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(200)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"), ZOrder.interleave2(col("a"), col("b")).alias("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pairs.foreach { case (a, b) =>
      assert(got((a, b)) === model(a, b, 16), s"($a, $b)")
    }
    // locality sanity: z of equal points is 3x the coordinate in each dim
    assert(model(3, 3, 16) === 15)
  }

  test("z-ordered files bound the second dimension; lexicographic files don't") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(20000)((rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
    val src = tmpDir("zorder_src")
    rows.toDF("a", "b").write.mode("overwrite").parquet(src)

    val zDir = tmpDir("zorder_z")
    Maintenance.rewriteZOrdered(spark, src, zDir,
      col("a"), col("b"), nFiles = 8, bits = 8)
    val lexDir = tmpDir("zorder_lex")
    spark.read.parquet(src).repartitionByRange(8, col("a"), col("b"))
      .sortWithinPartitions("a", "b")
      .write.mode("overwrite").parquet(lexDir)

    def avgSpread(dir: String, c: String): Double =
      spark.read.parquet(dir)
        .groupBy(input_file_name().alias("f"))
        .agg((max(col(c)) - min(col(c))).alias("spread"))
        .agg(avg("spread")).head().getDouble(0)

    val zB = avgSpread(zDir, "b")
    val lexB = avgSpread(lexDir, "b")
    // lexicographic files span nearly the whole b domain; z-ordered files
    // hold a bounded rectangle in (a, b)
    assert(lexB > 200, s"lex b-spread $lexB")
    assert(zB < lexB * 0.6, s"z b-spread $zB vs lex $lexB")
    assert(avgSpread(zDir, "a") < 256, "a still bounded")
  }

  test("OPTIMIZE ZORDER BY prunes a 2-D box that a bin-packing OPTIMIZE keeps whole") {
    val rnd = new scala.util.Random(23)
    val rows = Seq.fill(20000)((rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong))
    // random layout: every one of the 16 files spans both whole domains
    def build(): String = {
      val t = tmpDir("zorder_box") + "/t"
      TxLog.setProperties(t, Map("graft.stats.columns" -> "a,b"))
      TxLog.append(rows.toDF("a", "b").repartition(16), t)
      t
    }
    // a selective box: 10 % of each dimension
    val box = Map("a" -> (100.0, 199.0), "b" -> (500.0, 599.0))
    val inBox = rows.count { case (a, b) =>
      a >= 100 && a <= 199 && b >= 500 && b <= 599 }.toLong
    val (packed, zordered) = (build(), build())
    // hold the output at 16 files for both rewrites, so the comparison
    // isolates layout (random vs curve-clustered): ceil(bytes / 16) per
    // output file, and one input file per read partition so the
    // bin-pack's coalesce has 16 partitions to keep
    val total = TxLog.fileSizes(packed).values.sum
    val confs = Map(
      "spark.graft.optimize.targetFileBytes" -> ((total + 15) / 16).toString,
      "spark.graft.optimize.minFileBytes" -> Long.MaxValue.toString,
      "spark.sql.files.openCostInBytes" -> (128L << 20).toString)
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      spark.sql(s"OPTIMIZE txlog.`$packed`")
      spark.sql(s"OPTIMIZE txlog.`$zordered` ZORDER BY (a, b)")
    } finally confs.keys.foreach(spark.conf.unset)
    val nFiles = TxLog.activeFiles(packed).size
    assert(TxLog.activeFiles(zordered).size === nFiles)
    Seq(packed, zordered).foreach { t =>
      val last = TxLog.commits(t).last
      assert(last.op === "optimize" && last.stats.size === nFiles &&
        last.stats.values.forall(_.keySet === Set("a", "b")),
        s"the rewrite must record a/b stats for every output file: $t")
    }
    assert(TxLog.filesForRanges(packed, box).size === nFiles,
      "a bin-pack of a random layout leaves every file spanning the box")
    val kept = TxLog.filesForRanges(zordered, box).size
    assert(kept * 2 <= nFiles, s"ZORDER kept $kept of $nFiles files")
    Seq(packed, zordered).foreach(t =>
      assert(TxLog.readRanges(spark, t, box).count() === inBox))
  }

  test("a bin-packing OPTIMIZE splits the read's partitions to reach targetBytes") {
    val t = tmpDir("binpack_split") + "/t"
    val rows = (0 until 4000).map(i => (i.toLong, s"v${i % 97}"))
    TxLog.append(rows.toDF("k", "v").repartition(16), t)
    assert(TxLog.activeFiles(t).size === 16)
    // default openCostInBytes: the read packs the 16 small files into
    // fewer partitions than the 16 outputs targetBytes asks for
    val total = TxLog.fileSizes(t).values.sum
    TxLog.optimize(spark, t, targetBytes = Some((total + 15) / 16))
    assert(TxLog.activeFiles(t).size === 16)
    assert(TxLog.read(spark, t).as[(Long, String)].collect().sorted.toSeq ===
      rows.sorted)
  }
}
