package graft

import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, ZOrder}
import graft.ops.TxLog

/** Hilbert layout key: bijectivity and the every-step-adjacency property
  * that distinguishes it from the Morton curve (ZOrderSpec), agreement
  * between the interpreted and codegen paths, NULL on out-of-range, and
  * the tighter file bounding boxes the curve exists for. */
class HilbertSpec extends SparkSpec {
  import spark.implicits._

  GraftFunctions.register(spark)

  /** Independent reference model (same public-domain walk, written as a
    * recursive fold rather than the expression's imperative loop). */
  private def model(ax: Long, ay: Long, bits: Int): Long = {
    var (x, y, d) = (ax, ay, 0L)
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  test("bijective on the full 16x16 grid, and every step is grid-adjacent") {
    val bits = 4
    val cells = for (x <- 0 until 16; y <- 0 until 16) yield (x.toLong, y.toLong)
    val keyed = cells.toDF("x", "y")
      .select(col("x"), col("y"),
        call_function("hilbert_key", col("x"), col("y"), lit(bits)).alias("d"))
      .collect().map(r => (r.getLong(2), (r.getLong(0), r.getLong(1))))
    // bijection: 256 distinct d covering exactly [0, 256)
    assert(keyed.map(_._1).sorted.toSeq === (0L until 256L))
    // adjacency: consecutive curve positions are Manhattan-distance-1
    // neighbors — the locality property Morton lacks (its jumps at
    // power-of-two boundaries are why ZOrderSpec can't assert this)
    val byD = keyed.sortBy(_._1).map(_._2)
    byD.sliding(2).foreach { case Array((x1, y1), (x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1,
        s"jump between d for ($x1,$y1) -> ($x2,$y2)")
    }
  }

  test("codegen path matches the reference model; out-of-range is NULL") {
    val rnd = new scala.util.Random(13)
    val pairs = Seq.fill(300)((rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
    val got = pairs.toDF("x", "y")
      .select(col("x"), col("y"),
        call_function("hilbert_key", col("x"), col("y"), lit(8)).alias("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pairs.foreach { case (x, y) => assert(got((x, y)) === model(x, y, 8)) }

    val oob = Seq((-1L, 0L), (256L, 1L), (0L, 999L)).toDF("x", "y")
      .select(call_function("hilbert_key", col("x"), col("y"), lit(8)).alias("d"))
      .collect()
    assert(oob.forall(_.isNullAt(0)))
  }

  test("SQL walk (the DuckDB oracle shape) agrees with the expression") {
    val rnd = new scala.util.Random(17)
    Seq.fill(200)((rnd.nextInt(64).toLong, rnd.nextInt(64).toLong))
      .toDF("x", "y").createOrReplaceTempView("hk_pts")
    val walk = graft.functions.HilbertKey.xy2dSql(
      "x", "y", bits = 6, from = "hk_pts", passCols = Seq("x", "y"))
    // Spark SQL also has xor() and the same CASE semantics, so the oracle
    // string itself runs here — pinning the cross-engine formulation.
    val viaSql = spark.sql(s"SELECT x, y, _hd AS d FROM ($walk)")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    viaSql.foreach { case ((x, y), d) => assert(d === model(x, y, 6)) }
  }

  test("hilbert files bound both dimensions at least as tightly as morton") {
    val rnd = new scala.util.Random(19)
    val rows = Seq.fill(20000)((rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
    val src = tmpDir("hilbert_src")
    rows.toDF("a", "b").write.mode("overwrite").parquet(src)

    // the same 8-file OPTIMIZE, clustered by each curve's key
    def clustered(name: String, key: org.apache.spark.sql.Column): String = {
      val t = tmpDir(name) + "/t"
      TxLog.append(spark.read.parquet(src), t)
      TxLog.optimize(spark, t, targetFiles = 8, clusterBy = Seq(key))
      t
    }
    val h = clustered("hilbert_h",
      call_function("hilbert_key", col("a"), col("b"), lit(8)))
    val z = clustered("hilbert_z", ZOrder.interleave2(col("a"), col("b"), bits = 8))

    def area(t: String): Double =
      spark.read.parquet(TxLog.activeFiles(t).map(f => s"$t/$f"): _*)
        .groupBy(input_file_name().alias("f"))
        .agg(((max("a") - min("a") + 1) * (max("b") - min("b") + 1)).alias("box"))
        .agg(avg("box")).collect()(0).getDouble(0)
    val (hArea, zArea) = (area(h), area(z))
    // per-file bounding-box area: the curve's whole value proposition.
    // Hilbert should not be worse than Morton on a uniform grid (it is
    // strictly better at skewed aspect ratios; uniform is the floor case).
    assert(hArea <= zArea * 1.1,
      s"hilbert avg box $hArea vs morton $zArea")
    // and both are FAR below the unclustered full-grid area (256*256)
    assert(hArea < 256 * 256 / 4.0)
  }
}
