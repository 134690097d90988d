package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}

/** Dev-loop per-entry timer (args: sfDir [--all] [--reps N]
  * [--json path] name1 name2 …): runs the named catalog entries (or the
  * whole catalog with --all) exactly the way Bench's sequential pass
  * does — [[Harness.run]]: noop sink, state-store providers unloaded
  * OUTSIDE the timed region between entries, maintenance daemon parked —
  * and prints min/median of `reps` runs. With --json it also writes the
  * full isolation table as `{"entry":{"min":s,"med":s},…}` — the
  * per-round ISOLATION_r<N>.json artifact, so a per-entry regression is
  * visible by diffing two rounds' files instead of eyeballing hand-copied
  * PERF.md tables (the r16 trainer regression hid exactly there).
  *
  * A job listener attached after the warmup attributes every Spark job to
  * the entry whose reps were running when it started; once the session
  * has stopped (which drains the listener bus), each entry's job count,
  * summed job wall time and slowest jobs are printed — an entry's
  * fixed-cost structure (staging jobs, per-micro-batch jobs, serving
  * jobs) without the UI.
  */
object TimeEntries {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    var reps = 3
    var jsonPath: Option[String] = None
    var all = false
    val explicit = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 1
    while (i < args.length) {
      args(i) match {
        case "--all" => all = true
        case "--reps" => reps = args(i + 1).toInt; i += 1
        case "--json" => jsonPath = Some(args(i + 1)); i += 1
        case n => explicit += n
      }
      i += 1
    }
    val names =
      if (all) SparkEntry.queries.keys.toSeq.sorted else explicit.toSeq
    val spark = Harness.session()
    // JVM/classload warmup, discarded
    Harness.run(spark, names.head, sfDir)
    val started = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    // (start ms, wall ms, description) of every finished job
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      // the job description (a stream's id/runId/batch) or else its
      // result stage's call site ("parquet at Fixtures.scala:88")
      override def onJobStart(js: SparkListenerJobStart): Unit =
        started.put(js.jobId, (js.time,
          Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(js.stageInfos.maxByOption(_.stageId).map(_.name))
            .getOrElse("?").replaceAll("\\s+", " ").trim))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val st = started.remove(je.jobId)
        if (st != null) jobs.add((st._1, je.time - st._1, st._2))
      }
    })
    val rows = names.map { n =>
      val from = System.currentTimeMillis()
      val ts = (1 to reps).map(_ => Harness.run(spark, n, sfDir)).sorted
      val med = ts(ts.length / 2)
      println(f"[time] $n%-36s min=${ts.head}%6.2f s  med=$med%6.2f s")
      (n, ts.head, med, from, System.currentTimeMillis())
    }
    jsonPath.foreach { p =>
      val body = rows.map { case (n, mn, md, _, _) =>
        f"""  ${Harness.json(n)}: {"min": $mn%.3f, "med": $md%.3f}"""
      }.mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        body.getBytes("UTF-8"))
      println(s"[time] wrote $p")
    }
    Graft.shutdown(spark)
    import scala.jdk.CollectionConverters._
    val finished = jobs.asScala.toSeq
    rows.foreach { case (n, _, _, from, to) =>
      val mine = finished.filter { case (t, _, _) => t >= from && t < to }
      println(f"[jobs] $n%-36s ${mine.size}%4d jobs over $reps reps, " +
        f"${mine.map(_._2).sum / 1000.0}%.2f s of job wall time")
      mine.sortBy(-_._2).take(5).foreach { case (_, ms, desc) =>
        println(f"[jobs]   ${ms / 1000.0}%7.3f s  ${desc.take(100)}")
      }
    }
  }
}
