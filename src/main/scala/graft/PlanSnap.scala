package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dumps `.explain("formatted")` for named catalog entries into a
  * directory — the per-round plan-evidence artifact
  * (`plans/r<N>/<query>_{before,after}.txt`).
  *
  * Usage: runMain graft.PlanSnap <outDir> <suffix> name1 name2 …
  * writes <outDir>/<name>_<suffix>.txt for each entry.
  *
  * Entries whose build function runs imperative staging (txlog trickles,
  * streaming sinks) dump the plan of the RETURNED DataFrame — the read
  * side the oracle checks — which is exactly what the bench times after
  * the staging fixture is warm.
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2).toSeq
    Files.createDirectories(outDir)
    val spark = Harness.session()
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      val plan = df.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
      println(s"[plansnap] wrote ${name}_$suffix.txt")
    }
    Graft.shutdown(spark)
  }
}
