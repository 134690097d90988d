package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.Graft

/** What one measured window produced: latencies of the workload's main
  * and side operation (ms), and operations attempted/failed. */
final class Window {
  val main = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  val side = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  val attempted, failed = new java.util.concurrent.atomic.AtomicLong()
  val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Runs one operation, counting it; a thrown error counts as failed. */
  def op[A](f: => A): Option[A] = {
    attempted.incrementAndGet()
    try Some(f)
    catch {
      case e: Exception =>
        failed.incrementAndGet()
        if (errors.size < 20) errors.add(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        None
    }
  }
}

final case class Ctx(spark: SparkSession, data: String, work: String)

/** A workload: program-side staging (part of set-up, repeated), the
  * measured window, and what the output checks need afterwards. */
trait Workload {
  def stage(rep: Int): Unit
  def measure(probe: Probe, seconds: Double, w: Window): Unit
  /** Runs after the window: returns the check inputs for run.py. */
  def finish(): Map[String, Any]
  /** Workload-specific per-layer metrics from a traced window. */
  def layers(t: Tracer): Map[String, Double]
}

/** Harness entry point. run.py launches it once per run:
  *
  *   perfbench.Main --workload W --data DIR --work DIR --seconds S
  *                  --trace 0|1 --cores N --out result.json
  *
  * It starts the session, stages the workload `StagingReps` times,
  * measures, and writes every sample and check input to `--out`. */
object Main {
  val StagingReps = 2

  def main(args: Array[String]): Unit = {
    val mainEntryMs = System.currentTimeMillis()
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val t0 = System.nanoTime()
    val spark = Graft.session(s"local[$cores]", cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sessionReadyMs = System.currentTimeMillis()
    val ctx = Ctx(spark, a("data"), a("work"))
    val wl: Workload = a("workload") match {
      case "ref_pipeline" => new RefPipeline(ctx)
      case "medallion_trickle" => new MedallionTrickle(ctx)
      case "lakehouse_upsert" => new LakehouseUpsert(ctx)
      case "review_curation" => new ReviewCuration(ctx)
    }
    val staging = (0 until StagingReps).map { i =>
      val s = System.nanoTime(); wl.stage(i); (System.nanoTime() - s) / 1e9
    }
    val w = new Window
    val untraced = new Window
    var tracer: Option[Tracer] = None
    if (!traced) wl.measure(new Probe(None), seconds, w)
    else {
      // half the window untraced, half traced: their gap is the overhead
      wl.measure(new Probe(None), seconds / 2, untraced)
      tracer = Some(new Tracer(spark))
      wl.measure(new Probe(tracer), seconds / 2, w)
    }
    val peakRssMb = vmHwmMb()
    val gcS = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .toArray.map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean]
        .getCollectionTime).sum / 1e3
    tracer.foreach(_.close())
    val checks = wl.finish()
    val layers: Map[String, Double] = tracer.map { t =>
      t.write(s"${a("work")}/spans.jsonl", new java.io.File(a("work")).getName)
      val self = t.selfNs
      val selfByLayer = t.spans.groupBy(_.layer).map { case (l, ss) =>
        s"$l.self_s" -> ss.map(s => self(s.id)).sum / 1e9
      }
      def med(xs: java.util.Collection[Double]) = Stats.median(xs.asScala.toSeq)
      val ov = med(untraced.main)
      selfByLayer ++ wl.layers(t) ++ Map(
        "session.start_s" -> sessionS,
        "session.warmup_s" -> Stats.median(staging),
        "jvm.gc_s" -> gcS,
        "trace.overhead_ratio" ->
          (if (ov > 0) med(w.main) / ov - 1 else 0.0))
    }.getOrElse(Map.empty)
    val out = Map(
      "main_entry_ms" -> mainEntryMs,
      "session_ready_ms" -> sessionReadyMs,
      "session_start_s" -> sessionS,
      "staging_s" -> staging,
      "main_ms" -> w.main.asScala,
      "side_ms" -> w.side.asScala,
      "attempted" -> w.attempted.get,
      "failed" -> w.failed.get,
      "errors" -> w.errors.asScala,
      "peak_rss_mb" -> peakRssMb,
      "checks" -> checks,
      "layers" -> layers,
      "env" -> Map("spark" -> spark.version, "cores" -> cores,
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20)))
    java.nio.file.Files.write(java.nio.file.Paths.get(a("out")),
      Json.write(out).getBytes("UTF-8"))
    Graft.shutdown(spark)
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The tail the benchmark reports: the highest of p99.9/p99/p95/p90/p75/
    * p50 with at least ten samples beyond it; the maximum when fewer than
    * twenty samples exist. */
  def tail(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5).find(p => s.size * (1 - p) >= 10) match {
        case Some(p) => s(math.ceil(math.rint(p * s.size * 1e6) / 1e6).toInt - 1)
        case None => s.last
      }
    }
}
