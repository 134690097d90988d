package org.apache.spark.sql

import java.util.UUID

import org.apache.hadoop.fs.Path

import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter, WriteJobStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.util.SerializableConfiguration

/** The write-side twin of [[GraftSqlBridge]]: write a DataFrame as
  * parquet through Spark's `FileFormatWriter` with extra
  * `WriteJobStatsTracker`s, whose task side sees every row of every file
  * the write job writes (Delta collects file statistics the same way).
  * `DataFrameWriter` takes no trackers, and the call needs the classic
  * session, the physical plan and a commit protocol, all internal.
  * Spark's own basic tracker rides along, so task output metrics and the
  * SQL write metrics read as for `df.write.parquet`.
  */
object GraftWriteBridge {
  /** Write `df` under the fresh directory `path`, Hive-partitioned by
    * `partitionCols` (columns of `df`, moved into the paths). */
  def writeParquet(df: DataFrame, path: String, partitionCols: Seq[String],
      trackers: Seq[WriteJobStatsTracker]): Unit = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = classic.Dataset.ofRows(spark, df.queryExecution.logical)
      .queryExecution
    val hadoopConf = spark.sessionState.newHadoopConf()
    val out = new Path(path)
    val qualified = out.getFileSystem(hadoopConf).makeQualified(out).toString
    val committer = FileCommitProtocol.instantiate(
      spark.sessionState.conf.fileCommitProtocolClass,
      UUID.randomUUID().toString, qualified)
    val basic = new BasicWriteJobStatsTracker(
      new SerializableConfiguration(hadoopConf),
      BasicWriteJobStatsTracker.metrics)
    SQLExecution.withNewExecutionId(qe, Some("save")) {
      val plan = qe.executedPlan
      FileFormatWriter.write(spark, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(qualified, Map.empty, plan.output),
        hadoopConf, partitionCols.map(c => plan.output.find(_.name == c).get),
        None, basic +: trackers, Map.empty)
    }
  }
}
