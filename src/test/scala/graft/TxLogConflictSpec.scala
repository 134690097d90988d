package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.ops.TxLog

/** Partition-disjoint concurrent-writer rules for overwritePartitions
  * (Delta's replaceWhere conflict resolution, VERDICT r13 item 2):
  * disjoint-partition writers racing one table BOTH commit (the loser
  * re-derives metadata only — its data files are already staged); under
  * `graft.isolationLevel=serializable` a commit that touched this
  * writer's tuples makes the loser REFUSE with ConcurrentWriteException
  * instead of blindly overwriting the winner's rows. Complements
  * TxLogPartitionSpec's single-writer race cases. */
class TxLogConflictSpec extends SparkSpec {
  import spark.implicits._

  private def mk(): String = {
    val t = tmpDir("txconflict") + "/t"
    TxLog.setProperties(t, Map("graft.partition.columns" -> "y"))
    TxLog.append(Seq((1L, 2019), (2L, 2020), (3L, 2021)).toDF("k", "y"), t)
    t
  }

  private def tuple(y: Int): Map[String, Option[String]] =
    Map("y" -> Some(y.toString))

  test("racing disjoint-partition overwrites BOTH commit") {
    val t = mk()
    val start = new CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val threads = Seq(2020, 2021).map { y =>
      val th = new Thread(() => {
        start.await()
        val df = Seq((100L + y, y)).toDF("k", "y")
        results.put(y, TxLog.overwritePartitions(df, t))
      }, s"writer-$y")
      th.start(); th
    }
    start.countDown()
    threads.foreach(_.join(120000))
    assert(results.size === 2, "both disjoint writers must commit")
    assert(results.values().toArray.toSet.size === 2,
      "each on its own version")
    val got = TxLog.read(spark, t).select("k", "y").as[(Long, Int)]
      .collect().toSet
    assert(got === Set((1L, 2019), (2120L, 2020), (2121L, 2021)))
  }

  test("serializable isolation: commit on MY tuple since base refuses") {
    val t = mk()
    TxLog.setProperties(t, Map("graft.isolationLevel" -> "serializable"))
    val base = TxLog.latestVersion(t)
    // a concurrent writer lands new 2020 data after `base`
    TxLog.append(Seq((9L, 2020)).toDF("k", "y"), t)
    val e = intercept[TxLog.ConcurrentWriteException] {
      TxLog.checkPartitionConflicts(t, base, Set(tuple(2020)), Seq("y"))
    }
    assert(e.getMessage.contains("touched partition"))
    // …but a writer replacing a DISJOINT tuple passes the same check
    TxLog.checkPartitionConflicts(t, base, Set(tuple(2021)), Seq("y"))
  }

  test("serializable isolation: metadata and DV commits conflict with all") {
    val t = mk()
    TxLog.setProperties(t, Map("graft.isolationLevel" -> "serializable"))
    val base = TxLog.latestVersion(t)
    TxLog.setProperties(t, Map("owner" -> "other"))
    intercept[TxLog.ConcurrentWriteException] {
      TxLog.checkPartitionConflicts(t, base, Set(tuple(2021)), Seq("y"))
    }
    val base2 = TxLog.latestVersion(t)
    TxLog.deleteVectors(spark, t, col("k") === 1L)
    intercept[TxLog.ConcurrentWriteException] {
      TxLog.checkPartitionConflicts(t, base2, Set(tuple(2021)), Seq("y"))
    }
  }

  test("retry after a concurrent RENAME/DROP refuses (metadata change)") {
    val t = tmpDir("txconflict") + "/m"
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    TxLog.enableColumnMapping(t)
    // snapshot the metadata a writer would stage under, then land a
    // concurrent rename — the writer's retry must REFUSE rather than
    // re-commit its stale schemaDdl/colMap (which would silently revert
    // the rename, since the newest entry wins the schema fold)
    val meta0 = TxLog.metaFingerprint(t)
    TxLog.refuseIfMetaChanged(t, "append", meta0) // unchanged: passes
    TxLog.renameColumn(t, "k", "kk")
    val e = intercept[TxLog.ConcurrentWriteException] {
      TxLog.refuseIfMetaChanged(t, "append", meta0)
    }
    assert(e.getMessage.contains("concurrent metadata change"))
    // a plain data commit does NOT trip the guard (schema unchanged)
    val meta1 = TxLog.metaFingerprint(t)
    TxLog.append(Seq((8L, "c")).toDF("kk", "v"), t)
    TxLog.refuseIfMetaChanged(t, "append", meta1)
  }

  test("dvDelete records its covered files; file-disjoint DML commutes") {
    val t = tmpDir("txconflict") + "/f"
    TxLog.append((1L to 10L).map((_, "a")).toDF("k", "v").coalesce(1), t)
    TxLog.append((11L to 20L).map((_, "b")).toDF("k", "v").coalesce(1), t)
    TxLog.setProperties(t, Map("graft.isolationLevel" -> "serializable"))
    val fileA = TxLog.commits(t).head.add.head
    val fileB = TxLog.commits(t).find(_.version == 2L).get.add.head
    val base = TxLog.latestVersion(t)
    // a DV delete lands, covering ONLY file A (k=1 lives there)
    TxLog.deleteVectors(spark, t, col("k") === 1L)
    val cmt = TxLog.commits(t).last
    assert(cmt.op === "dvDelete")
    assert(cmt.dvTargets === Seq(fileA.split('/').takeRight(2).mkString("/")),
      "the DV commit must attribute its row kills to their data files")
    // a racing writer that read/rewrites only file B commutes …
    TxLog.checkFileConflicts(t, base, Set(fileB), "delete")
    // … one touching file A refuses
    val e = intercept[TxLog.ConcurrentWriteException] {
      TxLog.checkFileConflicts(t, base, Set(fileA), "delete")
    }
    assert(e.getMessage.contains("serializable isolation refuses"))
    // data commits conflict the same way: an append (new file C) then a
    // delete rewriting file B — only writers overlapping B refuse
    val base2 = TxLog.latestVersion(t)
    TxLog.delete(spark, t, col("k") === 15L) // rewrites file B
    TxLog.checkFileConflicts(t, base2, Set(fileA), "update")
    intercept[TxLog.ConcurrentWriteException] {
      TxLog.checkFileConflicts(t, base2, Set(fileB), "update")
    }
  }

  test("racing dvDeletes on DISJOINT files both commit under serializable") {
    val t = tmpDir("txconflict") + "/r"
    TxLog.append((1L to 10L).map((_, "a")).toDF("k", "v").coalesce(1), t)
    TxLog.append((11L to 20L).map((_, "b")).toDF("k", "v").coalesce(1), t)
    TxLog.setProperties(t, Map("graft.isolationLevel" -> "serializable"))
    val start = new CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val threads = Seq(1L, 11L).map { k =>
      val th = new Thread(() => {
        start.await()
        results.put(k, TxLog.deleteVectors(spark, t, col("k") === k))
      }, s"dv-$k")
      th.start(); th
    }
    start.countDown()
    threads.foreach(_.join(120000))
    assert(results.size === 2, "both disjoint-file DV deletes must commit")
    assert(TxLog.read(spark, t).select("k").as[Long].collect().toSet ===
      ((2L to 10L) ++ (12L to 20L)).toSet)
  }

  test("default isolation keeps INSERT OVERWRITE semantics (no refusal)") {
    val t = mk() // graft.isolationLevel unset
    val base = TxLog.latestVersion(t)
    TxLog.append(Seq((9L, 2020)).toDF("k", "y"), t)
    // same-tuple interleave under the default: check passes, the retry
    // loop re-derives and the last writer wins the tuple
    TxLog.checkPartitionConflicts(t, base, Set(tuple(2020)), Seq("y"))
    TxLog.overwritePartitions(Seq((200L, 2020)).toDF("k", "y"), t)
    assert(TxLog.read(spark, t).filter(col("y") === 2020)
      .select("k").as[Long].collect().toSet === Set(200L))
  }

  test("racing ADD COLUMNs on a mapped table never revert a winner") {
    val t = tmpDir("txconflict") + "/ddl"
    TxLog.append(Seq((1L, "a")).toDF("k", "v"), t)
    TxLog.enableColumnMapping(t)
    val names = (0 until 8).map(i => s"c$i")
    val start = new CountDownLatch(1)
    val outcomes = new java.util.concurrent.ConcurrentHashMap[String, Try[Long]]()
    val threads = names.map { n =>
      val th = new Thread(() => {
        start.await()
        outcomes.put(n, Try(TxLog.addColumn(t, n, LongType)))
      }, s"ddl-$n")
      th.start(); th
    }
    start.countDown()
    threads.foreach(_.join(120000))
    val got = outcomes.asScala.toMap
    assert(got.keySet === names.toSet, "every DDL thread must finish")
    // a DDL that loses its race to a concurrent schema change refuses —
    // never the bounded give-up, never anything else
    val unexpected = got.collect {
      case (n, Failure(e)) if !e.isInstanceOf[TxLog.ConcurrentWriteException] =>
        s"$n: $e"
    }
    assert(unexpected.isEmpty, s"unexpected failures: $unexpected")
    val committed = got.collect { case (n, Success(_)) => n }.toSet
    assert(committed.nonEmpty, "at least one ADD COLUMN must commit")
    val schema = TxLog.schemaAsOf(t).get.fieldNames.toSet
    val mapping = TxLog.mappingAsOf(t).get.keySet
    assert(committed.subsetOf(schema),
      s"committed columns missing from the schema: ${committed -- schema}")
    assert(committed.subsetOf(mapping),
      s"committed columns missing from the mapping: ${committed -- mapping}")
    info(s"${committed.size} of ${names.size} ADD COLUMNs committed, " +
      s"${names.size - committed.size} refused")
  }

  test("addConstraint validates exactly the snapshot it commits on") {
    val t = tmpDir("txconflict") + "/ck"
    TxLog.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "amt"), t)
    // the CHECK's first evaluation parks the validation scan until a
    // violating row has committed — the append lands strictly between
    // addConstraint's validation and its commit
    spark.udf.register("race_gate_pos", (amt: Long) => {
      RaceGate.park("constraint")
      amt > 0
    })
    val appended = new java.util.concurrent.atomic.AtomicLong(-1L)
    val appender = new Thread(() => {
      if (RaceGate.awaitParked("constraint"))
        try appended.set(
          TxLog.append(Seq((3L, -5L)).toDF("k", "amt"), t))
        finally RaceGate.release("constraint")
    }, "violating-appender")
    appender.start()
    val outcome = Try(
      TxLog.addConstraint(spark, t, "pos", "race_gate_pos(amt)"))
    appender.join(120000)
    assert(appended.get() > 0, "the violating append must commit mid-race")
    outcome match {
      case Success(v) =>
        assert(TxLog.read(spark, t, Some(v)).filter(col("amt") <= 0)
          .isEmpty, s"constraint committed at v$v over a violating row")
      case Failure(e) =>
        // the retry re-validated against the snapshot holding the row
        assert(e.getMessage.contains("CHECK constraint 'pos'"), e.toString)
    }
  }

  test("an append staged before a concurrent ADD COLUMN refuses, never reverts it") {
    val t = tmpDir("txconflict") + "/stale"
    TxLog.append(Seq((1L, "a")).toDF("k", "v"), t)
    // the append's data write parks on its first row until an ADD COLUMN
    // has committed — the append derived its schema before that column
    // existed, so publishing it would silently drop the column
    spark.udf.register("race_gate_tag", (v: String) => {
      RaceGate.park("append")
      v
    })
    val added = new java.util.concurrent.atomic.AtomicLong(-1L)
    val ddl = new Thread(() => {
      if (RaceGate.awaitParked("append"))
        try added.set(TxLog.addColumn(t, "extra", LongType))
        finally RaceGate.release("append")
    }, "concurrent-ddl")
    ddl.start()
    val outcome = Try(TxLog.append(
      Seq((2L, "b")).toDF("k", "v").selectExpr("k", "race_gate_tag(v) AS v"),
      t))
    ddl.join(120000)
    assert(added.get() > 0, "the ADD COLUMN must commit mid-append")
    assert(TxLog.schemaAsOf(t).get.fieldNames.contains("extra"),
      s"the append (${outcome}) reverted the concurrent ADD COLUMN")
    outcome match {
      case Failure(e) =>
        assert(e.isInstanceOf[TxLog.ConcurrentWriteException], e.toString)
      case Success(v) =>
        fail(s"the stale-schema append committed at v$v")
    }
  }

  test("a mergeInto retried past enableRowTracking carries the row ids") {
    val t = tmpDir("txconflict") + "/rt"
    TxLog.enableRowTracking(t)
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), t)
    TxLog.setProperties(t, Map("graft.rowTracking.enabled" -> "false"))
    def ids(): Map[Long, Option[Long]] =
      TxLog.readWithRowIds(spark, t).select("k", "_row_id")
        .as[(Long, Option[Long])].collect().toMap
    val before = ids()
    assert(before.values.forall(_.nonEmpty))
    // the merge's matched-file scan parks on its first row until tracking
    // is back on — the first attempt loses its race to that commit and
    // the retry must rewrite the file with its rows' ids
    spark.udf.register("race_gate_key", (k: Long) => {
      RaceGate.park("rowTracking")
      k
    })
    val enabled = new java.util.concurrent.atomic.AtomicLong(-1L)
    val toggler = new Thread(() => {
      if (RaceGate.awaitParked("rowTracking"))
        try enabled.set(TxLog.enableRowTracking(t))
        finally RaceGate.release("rowTracking")
    }, "row-tracking-enable")
    toggler.start()
    TxLog.mergeInto(spark, t, Seq((2L, "B")).toDF("k", "nv"), "t", "s",
      expr("race_gate_key(t.k) = s.k"),
      matched = Seq(TxLog.MergeUpdate(None, Map("v" -> col("s.nv")))))
    toggler.join(120000)
    assert(enabled.get() > 0, "enableRowTracking must commit mid-merge")
    assert(TxLog.read(spark, t).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "B")))
    assert(ids() === before,
      "rows in the rewritten file must keep their ids")
  }
}

/** Named one-shot rendezvous for the race tests: the first `park(name)`
  * signals that it parked and waits for `release(name)`; later calls
  * pass straight through. A top-level object so a registered UDF reaches
  * it statically instead of capturing (and serializing) the latches. */
object RaceGate {
  private final class Gate {
    val parked = new CountDownLatch(1)
    val released = new CountDownLatch(1)
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
  }
  private val gates =
    new java.util.concurrent.ConcurrentHashMap[String, Gate]()
  private def gate(name: String): Gate =
    gates.computeIfAbsent(name, _ => new Gate)

  def park(name: String): Unit = {
    val g = gate(name)
    if (g.armed.compareAndSet(true, false)) {
      g.parked.countDown()
      g.released.await(120, TimeUnit.SECONDS)
    }
  }
  def awaitParked(name: String): Boolean =
    gate(name).parked.await(120, TimeUnit.SECONDS)
  def release(name: String): Unit = gate(name).released.countDown()
}
