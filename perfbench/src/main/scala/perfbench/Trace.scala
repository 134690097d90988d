package perfbench

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One timed call into a program module. `name` is `<layer>.<call>`; the
  * layer prefix (etl, medallion, txlog, ext, session) buckets counters. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
}

/** Spark task counters summed over the tasks of the jobs one span ran. */
final class Counters {
  val tasks, cpuNs, gcMs, inputBytes, shuffleWriteBytes, spillBytes,
    outputBytes = new AtomicLong()
  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks.incrementAndGet()
    cpuNs.addAndGet(m.executorCpuTime)
    gcMs.addAndGet(m.jvmGCTime)
    inputBytes.addAndGet(m.inputMetrics.bytesRead)
    shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    outputBytes.addAndGet(m.outputMetrics.bytesWritten)
  }
}

/** One streaming micro-batch progress, tagged with the medallion stage
  * (bronze, silver, gold) whose query produced it. */
final case class Progress(stage: String, inputRows: Long,
    durations: Map[String, Long], stateRowsTotal: Long,
    stateRowsUpdated: Long, stateMemoryBytes: Long, stateCommitMs: Long,
    observed: Map[String, Long])

/** Spans around the harness's calls into program modules, plus the
  * counters Spark's public listeners report inside them.
  *
  * A span sets the `perfbench.span` local property while it runs. Spark
  * copies local properties into every job the thread submits, and into
  * the threads of streaming queries started inside the span, so each
  * task's metrics land on the innermost span that caused it. Spans live
  * in memory and are written once, at the end of the run. */
final class Tracer(spark: SparkSession) {
  private val SpanProp = "perfbench.span"
  private val ids = new AtomicInteger(0)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Integer]
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val counterMap = new ConcurrentHashMap[Int, Counters]()
  private val queryStage = new ConcurrentHashMap[UUID, String]()
  private val progressBuf = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()

  def span[A](name: String)(f: => A): A = {
    val id = ids.incrementAndGet()
    val parent = Option(current.get).map(_.intValue).getOrElse(0)
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(SpanProp)
    current.set(id)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = System.nanoTime()
    try f
    finally {
      done.add(Span(id, name, parent, t0, System.nanoTime()))
      current.set(if (parent == 0) null else parent)
      sc.setLocalProperty(SpanProp, prevProp)
    }
  }

  /** Tags a started streaming query with its medallion stage, so its
    * progress events can be bucketed. */
  def tagQuery(id: UUID, stage: String): Unit = queryStage.put(id, stage)

  private def countersOf(span: Int) =
    counterMap.computeIfAbsent(span, _ => new Counters)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .foreach(s => e.stageIds.foreach(stageSpan.put(_, s.toInt)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null)
        Option(stageSpan.get(e.stageId)).foreach(s => countersOf(s).add(e.taskMetrics))
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      progressBuf.add(Progress(
        Option(queryStage.get(p.id)).getOrElse("untagged"), p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.numRowsUpdated).sum,
        ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum,
        p.observedMetrics.asScala.toSeq.flatMap { case (name, row) =>
          row.schema.fieldNames.toSeq.zipWithIndex.collect {
            case (f, i) if !row.isNullAt(i) => s"$name.$f" -> row.getLong(i)
          }
        }.toMap))
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.streams.addListener(queryListener)

  /** Waits for both listener buses, then detaches them. */
  def close(): Unit = {
    PerfbenchBus.drain(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(queryListener)
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
  def progress: Seq[Progress] = progressBuf.asScala.toSeq

  /** Counters summed over every span of `layer`. */
  def layerCounters(layer: String): Map[String, Long] = {
    val mine = spans.filter(_.layer == layer).map(_.id).toSet
    val cs = counterMap.asScala.collect { case (k, c) if mine(k) => c }
    def tot(f: Counters => AtomicLong) = cs.map(f(_).get).sum
    Map("tasks" -> tot(_.tasks),
      "cpu_ns" -> tot(_.cpuNs), "gc_ms" -> tot(_.gcMs),
      "input_bytes" -> tot(_.inputBytes),
      "shuffle_write_bytes" -> tot(_.shuffleWriteBytes),
      "spill_bytes" -> tot(_.spillBytes), "output_bytes" -> tot(_.outputBytes))
  }

  /** Self time of each span: its duration minus the union of the
    * intervals its direct children cover. */
  def selfNs: Map[Int, Long] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L
      var (lo, hi) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > hi) { covered += math.max(0L, hi - lo); lo = a; hi = b }
        else hi = math.max(hi, b)
      }
      covered += math.max(0L, hi - lo)
      s.id -> math.max(0L, (s.endNs - s.startNs) - covered)
    }.toMap
  }

  /** The span ledger, one JSON object per line: name, start, end, parent,
    * run id and self time, times in ns since the first span. */
  def write(path: String, runId: String): Unit = {
    val all = spans
    val t0 = if (all.isEmpty) 0L else all.map(_.startNs).min
    val self = selfNs
    val lines = all.map { s =>
      Json.write(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "run" -> runId, "start_ns" -> (s.startNs - t0),
        "end_ns" -> (s.endNs - t0), "self_ns" -> self(s.id)))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Span-or-not: the untraced run calls straight through. */
final class Probe(val tracer: Option[Tracer]) {
  def apply[A](name: String)(f: => A): A = tracer match {
    case Some(t) => t.span(name)(f)
    case None => f
  }
  def traced: Boolean = tracer.nonEmpty
}
