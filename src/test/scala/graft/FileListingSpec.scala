package graft

import org.apache.spark.JobCount
import org.apache.spark.sql.functions._

/** `Graft.session` lists files on the driver at any path count: a read
  * of more paths than Spark's parallel-discovery threshold (32) would
  * otherwise start a listing job, which in a local session only adds
  * task scheduling on the same cores. Each read passes its schema, so
  * no inference job is counted either. */
class FileListingSpec extends SparkSpec {

  /** 40 single-row files under `p=0` … `p=39`. */
  private def fortyPartitions(): String = {
    val dir = tmpDir("listing") + "/t"
    spark.range(40).withColumn("p", col("id").cast("int")).repartition(40)
      .write.partitionBy("p").parquet(dir)
    dir
  }

  test("a 40-directory partitioned tree lists with no Spark job") {
    val dir = fortyPartitions()
    val schema = "id BIGINT, p INT"
    assert(JobCount(spark)(spark.read.schema(schema).parquet(dir)) === 0)
    val df = spark.read.schema(schema).parquet(dir)
    assert(df.inputFiles.length === 40)
    assert(df.where(col("p") === 7).collect().map(_.getLong(0)) === Array(7L))
  }

  test("40 explicit file paths (a TxLog read's shape) list with no Spark job") {
    val dir = fortyPartitions()
    val files = scala.util.Using.resource(
        java.nio.file.Files.walk(java.nio.file.Paths.get(dir)))(
      _.toArray.map(_.toString).filter(_.endsWith(".parquet")).sorted.toSeq)
    assert(files.size === 40)
    assert(JobCount(spark)(spark.read.schema("id BIGINT").parquet(files: _*)) === 0)
    assert(spark.read.schema("id BIGINT").parquet(files: _*)
      .agg(sum("id")).head().getLong(0) === (0L until 40L).sum)
  }
}
