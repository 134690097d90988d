package graft

import scala.jdk.CollectionConverters._

import graft.ops.TxLog

/** Transaction-log table semantics (the Delta-tier emulation): version
  * monotonicity, snapshot + time-travel reads, crash safety of the
  * two-phase write (data files → atomic commit), optimistic-concurrency
  * commit races, and the batchId replay guard on the streaming sink. */
class TxLogSpec extends SparkSpec {
  import spark.implicits._

  private def table(): String = tmpDir("txlog") + "/t"

  test("overwrite/append/merge commit consecutive versions; snapshot and time-travel reads") {
    val t = table()
    assert(TxLog.overwrite(
      Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "v", "ver"), t) === 1L)
    assert(TxLog.append(Seq((3L, "c", 1L)).toDF("k", "v", "ver"), t) === 2L)
    // merge: update k=2 (higher version wins), insert k=4
    assert(TxLog.merge(spark, t,
      Seq((2L, "B", 2L), (4L, "d", 1L)).toDF("k", "v", "ver"),
      Seq("k"), "ver") === 3L)
    def rows(asOf: Option[Long]) = TxLog.read(spark, t, asOf)
      .as[(Long, String, Long)].collect().toSet
    assert(rows(None) ===
      Set((1L, "a", 1L), (2L, "B", 2L), (3L, "c", 1L), (4L, "d", 1L)))
    assert(rows(Some(2L)) === Set((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)))
    assert(rows(Some(1L)) === Set((1L, "a", 1L), (2L, "b", 1L)))
    assert(TxLog.latestVersion(t) === Some(3L))
  }

  test("older version loses the merge even when it arrives later") {
    val t = table()
    TxLog.overwrite(Seq((1L, "new", 5L)).toDF("k", "v", "ver"), t)
    TxLog.merge(spark, t, Seq((1L, "stale", 3L)).toDF("k", "v", "ver"),
      Seq("k"), "ver")
    assert(TxLog.read(spark, t).as[(Long, String, Long)].collect().toSet ===
      Set((1L, "new", 5L)))
  }

  test("crash between data write and commit: readers still see version N-1") {
    val t = table()
    TxLog.overwrite(Seq((1L, "a")).toDF("k", "v"), t)
    // simulate the crash: data files staged, the commit never happens
    val orphan = TxLog.writeData(Seq((9L, "ghost")).toDF("k", "v"), t, TxLog.mappingAsOf(t))
    assert(orphan.nonEmpty)
    assert(TxLog.read(spark, t).as[(Long, String)].collect().toSet ===
      Set((1L, "a")))
    assert(TxLog.latestVersion(t) === Some(1L))
    assert(TxLog.activeFiles(t).intersect(orphan).isEmpty)
  }

  test("concurrent writers: exactly one commit wins a contended version") {
    val t = table()
    TxLog.overwrite(Seq((1L, "a")).toDF("k", "v"), t)
    val before = TxLog.activeFiles(t)
    val addA = TxLog.writeData(Seq((2L, "A")).toDF("k", "v"), t, TxLog.mappingAsOf(t))
    val addB = TxLog.writeData(Seq((2L, "B")).toDF("k", "v"), t, TxLog.mappingAsOf(t))
    val winA = TxLog.tryCommit(t,
      TxLog.Commit(2L, addA, Seq.empty, "append", -1L))
    val winB = TxLog.tryCommit(t,
      TxLog.Commit(2L, addB, Seq.empty, "append", -1L))
    assert(winA && !winB)
    assert(TxLog.activeFiles(t).toSet === (before ++ addA).toSet)
    // the losing writer's retry lands on the NEXT version, atop the winner
    assert(TxLog.append(Seq((2L, "B")).toDF("k", "v"), t) === 3L)
    assert(TxLog.read(spark, t).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "A"), (2L, "B")))
  }

  test("checkpoint compaction: reads replay only post-checkpoint commits, history intact") {
    val t = table()
    TxLog.overwrite(Seq((1L, "a")).toDF("k", "v"), t)            // v1
    TxLog.append(Seq((2L, "b")).toDF("k", "v"), t)               // v2
    val before = TxLog.activeFiles(t)
    assert(TxLog.compact(t) === Some(2L))
    // checkpointed snapshot identical to the folded one
    assert(TxLog.activeFiles(t) === before)
    // commits after the checkpoint fold on top of it
    TxLog.append(Seq((3L, "c")).toDF("k", "v"), t)               // v3
    assert(TxLog.read(spark, t).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // time travel BEFORE the checkpoint still folds from the full log
    assert(TxLog.read(spark, t, Some(1L)).as[(Long, String)]
      .collect().toSet === Set((1L, "a")))
    // compacting again at the new head is fine; same-version recompact is a no-op
    assert(TxLog.compact(t) === Some(3L))
    assert(TxLog.compact(t) === Some(3L))
    assert(TxLog.read(spark, t, Some(2L)).as[(Long, String)]
      .collect().toSet === Set((1L, "a"), (2L, "b")))
  }

  test("vacuum deletes pre-horizon files and crash orphans, keeps retained snapshots") {
    val t = table()
    TxLog.overwrite(Seq((1L, "a")).toDF("k", "v"), t)            // v1
    val v1Files = TxLog.activeFiles(t)
    TxLog.overwrite(Seq((2L, "b")).toDF("k", "v"), t)            // v2 removes v1's files
    TxLog.append(Seq((3L, "c")).toDF("k", "v"), t)               // v3
    val orphan = TxLog.writeData(Seq((9L, "ghost")).toDF("k", "v"), t, TxLog.mappingAsOf(t))
    // dry run reports the same doomed set but deletes NOTHING
    val wouldDelete = TxLog.vacuum(t, retainVersions = 2, dryRun = true)
    assert(TxLog.read(spark, t, Some(1L)).count() === 1,
      "dry run must not delete")
    val deleted = TxLog.vacuum(t, retainVersions = 2)
    assert(deleted.toSet === wouldDelete.toSet)
    // v1-only files and the uncommitted orphan are gone
    assert(v1Files.forall(deleted.contains), s"$deleted vs $v1Files")
    assert(orphan.forall(deleted.contains), s"$deleted vs $orphan")
    // retained snapshots (v2, v3) still read
    assert(TxLog.read(spark, t).as[(Long, String)].collect().toSet ===
      Set((2L, "b"), (3L, "c")))
    assert(TxLog.read(spark, t, Some(2L)).as[(Long, String)]
      .collect().toSet === Set((2L, "b")))
    // pre-horizon time travel is gone by design: v1's files are deleted
    intercept[Exception] {
      TxLog.read(spark, t, Some(1L)).collect()
    }
  }

  test("optimize compacts small files, clusters by key, keeps time travel") {
    import org.apache.spark.sql.functions.col
    val t = table()
    // three appends, each spread over several files → a small-file table
    (0 until 3).foreach { i =>
      TxLog.append(
        spark.range(i * 100, (i + 1) * 100).toDF("k")
          .withColumn("v", col("k") * 2).repartition(4), t)
    }
    val before = TxLog.activeFiles(t)
    assert(before.size > 2, s"setup should land many files: $before")
    val v = TxLog.optimize(spark, t, targetFiles = 2,
      clusterBy = Seq(col("k")))
    val after = TxLog.activeFiles(t)
    assert(after.size === 2, after)
    // row multiset unchanged
    assert(TxLog.read(spark, t).as[(Long, Long)].collect().toSet ===
      (0L until 300L).map(k => (k, k * 2)).toSet)
    assert(TxLog.read(spark, t).count() === 300)
    // clusterBy → each output file owns a disjoint key range (footer
    // min/max stats prune at file granularity)
    val ranges = after.map { f =>
      val r = spark.read.parquet(s"$t/$f")
        .agg(org.apache.spark.sql.functions.min("k"),
          org.apache.spark.sql.functions.max("k")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, ranges)
      case _ =>
    }
    // the pre-optimize snapshot is still time-travelable
    assert(TxLog.read(spark, t, Some(v - 1)).count() === 300)
    // and the audit trail names the op
    assert(TxLog.history(spark, t).filter(col("op") === "optimize")
      .count() === 1)
  }

  test("readRange prunes files by commit stats and matches the full scan") {
    import org.apache.spark.sql.functions.col
    val t = table()
    Seq(0, 1, 2).foreach { i =>
      TxLog.append(
        spark.range(i * 100, (i + 1) * 100).toDF("k")
          .withColumn("v", col("k") * 2), t, statsCols = Seq("k"))
    }
    val all = TxLog.activeFiles(t)
    val pruned = TxLog.filesForRange(t, "k", 120, 180)
    assert(pruned.nonEmpty && pruned.size < all.size,
      s"stats should prune: ${pruned.size} of ${all.size}")
    assert(TxLog.readRange(spark, t, "k", 120, 180)
      .as[(Long, Long)].collect().toSet ===
      (120L to 180L).map(k => (k, k * 2)).toSet)
    // a commit WITHOUT stats is conservative: its file is always read
    TxLog.append(Seq((999L, 0L)).toDF("k", "v"), t)
    val withBlind = TxLog.filesForRange(t, "k", 120, 180)
    assert(withBlind.size === pruned.size + 1, "stats-less file must-read")
    assert(TxLog.readRange(spark, t, "k", 120, 180).count() === 61)
    // skipping survives clustered compaction: stats re-recorded on the
    // compacted files, disjoint ranges → prune back down
    TxLog.optimize(spark, t, targetFiles = 3,
      clusterBy = Seq(col("k")), statsCols = Seq("k", "v"))
    val afterOpt = TxLog.filesForRange(t, "k", 120, 180)
    assert(afterOpt.size < TxLog.activeFiles(t).size)
    assert(TxLog.readRange(spark, t, "k", 120, 180).count() === 61)
    // conjunctive multi-column pruning: both predicates must intersect,
    // and an impossible conjunction prunes everything
    val both = TxLog.filesForRanges(t, Map("k" -> (120.0, 180.0),
      "v" -> (240.0, 360.0)))
    assert(both === afterOpt)
    assert(TxLog.filesForRanges(t, Map("k" -> (120.0, 180.0),
      "v" -> (0.0, 10.0))).isEmpty)
    assert(TxLog.readRanges(spark, t, Map("k" -> (120.0, 180.0),
      "v" -> (240.0, 300.0))).count() === 31)
  }

  test("changes classifies insert/update/delete, null-safely, skipping unchanged keys") {
    val t = table()
    TxLog.overwrite(Seq((1L, "a"), (2L, "b"), (3L, null.asInstanceOf[String]),
      (9L, "z")).toDF("k", "v"), t)                              // v1
    TxLog.overwrite(Seq((1L, "a"), (2L, "B"), (3L, "c"),
      (4L, "d")).toDF("k", "v"), t)                              // v2
    val got = TxLog.changes(spark, t, Seq("k"), 1L, 2L)
      .as[(Long, String, String)].collect().toSet
    assert(got === Set(
      (2L, "B", "update"),   // value change
      (3L, "c", "update"),   // NULL → value is an update, not a miss
      (4L, "d", "insert"),
      (9L, "z", "delete")))  // delete carries the OLD row
    // unchanged key 1 emits nothing — the incremental consumer contract
    assert(!got.exists(_._1 == 1L))
  }

  test("spark.read.format exposes txlog tables with time travel and pushdown") {
    import org.apache.spark.sql.functions.col
    val t = table()
    TxLog.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)   // v1
    TxLog.overwrite(Seq((1L, "a"), (3L, "c")).toDF("k", "v"), t)   // v2
    def fmt = spark.read.format("graft.sources.txlog").option("path", t)
    assert(fmt.load().as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (3L, "c")))
    assert(fmt.option("versionAsOf", "1").load()
      .as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
    assert(fmt.option("timestampAsOf",
      System.currentTimeMillis().toString).load().count() === 2)
    // Delta's string form resolves through the same parse as
    // TIMESTAMP AS OF — a future wall-clock timestamp reads the tip
    assert(fmt.option("timestampAsOf", "2099-01-01 00:00:00")
      .load().count() === 2)
    intercept[IllegalArgumentException] {
      fmt.option("timestampAsOf", "not-a-time").load().collect()
    }
    intercept[IllegalArgumentException] {
      fmt.option("versionAsOf", "1").option("timestampAsOf", "1").load()
        .collect()
    }
    // pruning + filtering through the source API stay correct
    assert(fmt.load().filter(col("k") > 1L).select("v")
      .as[String].collect().toSeq === Seq("c"))
  }

  test("DELETE/UPDATE rewrite only the files containing matching rows") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = table()
    // three appends → three disjoint file sets; DML targets only range 1
    (0 until 3).foreach { i =>
      TxLog.append(spark.range(i * 100, (i + 1) * 100).toDF("k")
        .withColumn("v", col("k") * 2).coalesce(1), t)
    }
    val before = TxLog.activeFiles(t)
    val vDel = TxLog.delete(spark, t, col("k") === 150L)
    val afterDel = TxLog.activeFiles(t)
    // untouched files keep their exact paths — copy-on-write is
    // file-granular, not a table rewrite
    assert((before.toSet & afterDel.toSet).size === before.size - 1,
      s"$before vs $afterDel")
    assert(TxLog.read(spark, t).count() === 299)
    assert(TxLog.read(spark, t).filter(col("k") === 150L).count() === 0)
    // time travel still sees the pre-delete row
    assert(TxLog.read(spark, t, Some(vDel - 1))
      .filter(col("k") === 150L).count() === 1)
    // UPDATE patches in place, same file-granular bound
    TxLog.update(spark, t, col("k") === 10L, Map("v" -> lit(-1L)))
    assert(TxLog.read(spark, t).filter(col("k") === 10L)
      .select("v").as[Long].head() === -1L)
    assert(TxLog.read(spark, t).count() === 299)
    // no-match DML is a no-op: version does not advance
    val v = TxLog.latestVersion(t)
    assert(TxLog.delete(spark, t, col("k") === 99999L) === v.get)
    assert(TxLog.latestVersion(t) === v)
  }

  test("TIMESTAMP AS OF resolves the newest commit at or before the stamp") {
    val t = table()
    TxLog.overwrite(Seq((1L, "a")).toDF("k", "v"), t)              // v1
    Thread.sleep(15)
    val between = System.currentTimeMillis()
    Thread.sleep(15)
    TxLog.overwrite(Seq((2L, "b")).toDF("k", "v"), t)              // v2
    assert(TxLog.readAsOfTimestamp(spark, t, between)
      .as[(Long, String)].collect().toSeq === Seq((1L, "a")))
    assert(TxLog.readAsOfTimestamp(spark, t, System.currentTimeMillis())
      .as[(Long, String)].collect().toSeq === Seq((2L, "b")))
    // predating the table is an explicit error, not an empty read
    intercept[IllegalArgumentException] {
      TxLog.readAsOfTimestamp(spark, t, 1L)
    }
    // history exposes the stamps for the audit/debug path
    val ts = TxLog.history(spark, t).select("ts").as[Long].collect()
    assert(ts.forall(_ > 0) && ts.sorted.sameElements(ts))
  }

  test("CHECK constraints gate every writer and refuse a violated add") {
    val t = table()
    TxLog.append(Seq((1L, 10L)).toDF("k", "qty"), t)               // v1
    TxLog.addConstraint(spark, t, "qty_pos", "qty > 0")            // v2
    // a constraint the CURRENT table violates is refused outright
    intercept[IllegalArgumentException] {
      TxLog.addConstraint(spark, t, "qty_big", "qty > 100")
    }
    // valid write passes; violating writes are rejected before commit
    TxLog.append(Seq((2L, 5L)).toDF("k", "qty"), t)                // v3
    val vBefore = TxLog.latestVersion(t)
    intercept[IllegalArgumentException] {
      TxLog.append(Seq((3L, -1L)).toDF("k", "qty"), t)
    }
    intercept[IllegalArgumentException] {
      TxLog.merge(spark, t, Seq((2L, 0L)).toDF("k", "qty"), Seq("k"), "qty")
    }
    // rejection is clean: no version advanced, snapshot unchanged
    assert(TxLog.latestVersion(t) === vBefore)
    assert(TxLog.read(spark, t).as[(Long, Long)].collect().toSet ===
      Set((1L, 10L), (2L, 5L)))
    // the constraint is durable log state any future writer sees
    assert(TxLog.constraints(t) === Map("qty_pos" -> "qty > 0"))
    assert(TxLog.history(spark, t)
      .filter(org.apache.spark.sql.functions.col("op") === "addConstraint")
      .count() === 1)
  }

  test("schema is enforced on write and evolves only when asked") {
    import org.apache.spark.sql.functions.col
    val t = table()
    TxLog.append(Seq((1L, "a")).toDF("k", "v"), t)                 // v1
    // same-name different-type always throws
    intercept[IllegalArgumentException] {
      TxLog.append(Seq((2L, 7)).toDF("k", "v"), t)
    }
    // a new column without mergeSchema throws (Delta enforcement)
    intercept[IllegalArgumentException] {
      TxLog.append(Seq((2L, "b", 1.5)).toDF("k", "v", "extra"), t)
    }
    // with mergeSchema it widens the table; pre-evolution files read NULL
    TxLog.append(Seq((2L, "b", 1.5)).toDF("k", "v", "extra"), t,
      mergeSchema = true)                                          // v2
    val now = TxLog.read(spark, t)
    assert(now.columns.toSeq === Seq("k", "v", "extra"))
    assert(now.as[(Long, String, Option[Double])].collect().toSet ===
      Set((1L, "a", None), (2L, "b", Some(1.5))))
    // a write MISSING an evolved column is fine — its rows read NULL
    TxLog.append(Seq((3L, "c")).toDF("k", "v"), t)                 // v3
    assert(TxLog.read(spark, t).filter(col("k") === 3L)
      .select("extra").as[Option[Double]].head() === None)
    // time travel keeps the v1-era schema
    assert(TxLog.read(spark, t, Some(1L)).columns.toSeq === Seq("k", "v"))
  }

  test("a CDF consumer applying deltas reconstructs every snapshot") {
    val t = table()
    TxLog.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)          // v1
    TxLog.overwrite(Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("k", "v"), t) // v2
    TxLog.overwrite(Seq((3L, "c")).toDF("k", "v"), t)                     // v3
    // consumer materializes v1, then folds changesSince deltas forward
    var state = TxLog.read(spark, t, Some(1L))
      .as[(Long, String)].collect().toMap
    var cursor = 1L
    val (delta, newCursor) = TxLog.changesSince(spark, t, Seq("k"), cursor)
    delta.as[(Long, String, String)].collect().foreach {
      case (k, _, "delete") => state -= k
      case (k, v, _) => state += (k -> v)
    }
    cursor = newCursor
    assert(cursor === 3L)
    assert(state === TxLog.read(spark, t).as[(Long, String)].collect().toMap)
    // idle poll: no new version → empty delta, cursor unchanged
    val (idle, c2) = TxLog.changesSince(spark, t, Seq("k"), cursor)
    assert(idle.count() === 0 && c2 === cursor)
  }

  test("streaming sink skips a replayed batchId (exactly-once contents)") {
    val t = table()
    val b0 = Seq((1L, "x", 1L)).toDF("k", "v", "ver")
    TxLog.sink(t, Seq("k"), "ver")(b0, 0L)
    val v = TxLog.latestVersion(t)
    TxLog.sink(t, Seq("k"), "ver")(b0, 0L) // checkpoint-recovery replay
    assert(TxLog.latestVersion(t) === v)
    TxLog.sink(t, Seq("k"), "ver")(
      Seq((1L, "y", 2L)).toDF("k", "v", "ver"), 1L)
    assert(TxLog.read(spark, t).as[(Long, String, Long)].collect().toSet ===
      Set((1L, "y", 2L)))
    // DESCRIBE HISTORY analog: the audit trail names both merges
    val h = TxLog.history(spark, t)
      .select("version", "op", "batch_id", "n_added", "n_removed")
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1)
    assert(h.map(r => (r._1, r._2, r._3)).toSeq ===
      Seq((1L, "merge", 0L), (2L, "merge", 1L)))
    assert(h.forall(_._4 > 0))
  }

  private def writeRawCommit(t: String, version: Long, json: String): Unit = {
    val dir = java.nio.file.Paths.get(t, "_txlog")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(
      dir.resolve(f"$version%020d.json"), json)
  }

  test("protocol versioning: future versions and unknown ops fail loudly, legacy logs still read") {
    val t = table()
    TxLog.overwrite(Seq((1L, "a")).toDF("k", "v"), t)            // v1
    // a log written BEFORE protocol stamping (no field) defaults to v1
    writeRawCommit(t, 2L,
      """{"version":2,"op":"append","batchId":-1,"add":[],"remove":[]}""")
    assert(TxLog.latestVersion(t) === Some(2L))
    // a commit from a FUTURE writer: reading must refuse, not guess
    writeRawCommit(t, 3L,
      """{"protocolVersion":99,"version":3,"op":"append","batchId":-1,"add":[],"remove":[]}""")
    val e1 = intercept[IllegalStateException] { TxLog.read(spark, t) }
    assert(e1.getMessage.contains("protocol version 99"))
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(t, "_txlog").resolve(f"${3L}%020d.json"))
    // an op this reader can't fold: refuse for the same reason
    writeRawCommit(t, 3L,
      """{"protocolVersion":1,"version":3,"op":"cloneTable","batchId":-1,"add":[],"remove":[]}""")
    val e2 = intercept[IllegalStateException] { TxLog.activeFiles(t) }
    assert(e2.getMessage.contains("cloneTable"))
  }

  test("changesSince bootstraps a new consumer from version 0 as all-inserts") {
    val t = table()
    TxLog.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)   // v1
    TxLog.overwrite(Seq((1L, "a"), (3L, "c")).toDF("k", "v"), t)   // v2
    val (delta, cursor) = TxLog.changesSince(spark, t, Seq("k"), 0L)
    assert(cursor === 2L)
    assert(delta.as[(Long, String, String)].collect().toSet ===
      Set((1L, "a", "insert"), (3L, "c", "insert")))
    // schema matches the incremental shape exactly — the consumer's fold
    // loop needs no first-poll special case
    assert(delta.columns.toSeq === Seq("k", "v", "change_type"))
  }

  test("changes diffs across a mergeSchema evolution (old snapshot lacks the new column)") {
    val t = table()
    TxLog.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)   // v1: (k, v)
    TxLog.append(Seq((3L, "c", 1.5)).toDF("k", "v", "extra"), t,
      mergeSchema = true)                                          // v2: + extra
    val got = TxLog.changes(spark, t, Seq("k"), 1L, 2L)
      .as[(Long, String, Option[Double], String)].collect().toSet
    // pre-evolution rows align to extra = NULL on BOTH sides → unchanged
    assert(got === Set((3L, "c", Some(1.5), "insert")))
  }

  test("readRanges carries the log schema: pruned reads NULL-backfill evolved columns") {
    import org.apache.spark.sql.functions.col
    val t = table()
    TxLog.append(spark.range(0, 100).toDF("k"), t, statsCols = Seq("k"))
    TxLog.append(spark.range(100, 200).toDF("k")
      .withColumn("extra", col("k") * 1.0), t,
      statsCols = Seq("k"), mergeSchema = true)
    // the pruned branch keeps only the OLD file; without the log schema it
    // would drop `extra` and diverge from filtering a full read
    val pruned = TxLog.readRanges(spark, t, Map("k" -> (10.0, 20.0)))
    assert(pruned.columns.toSeq === TxLog.read(spark, t).columns.toSeq)
    assert(pruned.as[(Long, Option[Double])].collect().toSet ===
      (10L to 20L).map(k => (k, None)).toSet)
  }

  test("UPDATE honors CHECK constraints: a violating rewrite is refused atomically") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = table()
    TxLog.overwrite(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), t)
    TxLog.addConstraint(spark, t, "v_nonneg", "v >= 0")
    val vBefore = TxLog.latestVersion(t)
    val filesBefore = TxLog.activeFiles(t)
    intercept[IllegalArgumentException] {
      TxLog.update(spark, t, col("k") === 1L, Map("v" -> lit(-5L)))
    }
    // nothing committed, nothing staged into the active set
    assert(TxLog.latestVersion(t) === vBefore)
    assert(TxLog.activeFiles(t) === filesBefore)
    assert(TxLog.read(spark, t).as[(Long, Long)].collect().toSet ===
      Set((1L, 10L), (2L, 20L)))
    // a conforming update still goes through
    TxLog.update(spark, t, col("k") === 1L, Map("v" -> lit(99L)))
    assert(TxLog.read(spark, t).as[(Long, Long)].collect().toSet ===
      Set((1L, 99L), (2L, 20L)))
  }

  test("stats on an all-NULL column: commit succeeds, file is simply never pruned") {
    val t = table()
    TxLog.append(Seq((1L, Option.empty[Double]), (2L, Option.empty[Double]))
      .toDF("k", "amt"), t, statsCols = Seq("k", "amt"))
    // previously an NPE after data was staged; now the amt entry is omitted
    assert(TxLog.latestVersion(t) === Some(1L))
    // no amt stats → conservative must-read on any amt range
    assert(TxLog.filesForRange(t, "amt", 1000.0, 2000.0) ===
      TxLog.activeFiles(t))
    // k stats still recorded and still prune
    assert(TxLog.filesForRange(t, "k", 50.0, 60.0).isEmpty)
  }

  test("stress: parallel appends all commit with distinct versions and no lost files") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = table()
    TxLog.overwrite(Seq((0L, "seed")).toDF("k", "v"), t)
    val writers = (1 to 4).map { i =>
      Future(TxLog.append(Seq((i.toLong, s"w$i")).toDF("k", "v"), t))
    }
    val versions = Await.result(Future.sequence(writers), 120.seconds)
    // every writer won SOME version, all distinct, log is gapless
    assert(versions.toSet.size === 4)
    assert(versions.toSet === (2L to 5L).toSet)
    // no writer's files were dropped by a racing commit
    assert(TxLog.read(spark, t).as[(Long, String)].collect().toSet ===
      (Set(0L -> "seed") ++ (1 to 4).map(i => i.toLong -> s"w$i")).toSet)
    val adds = TxLog.commits(t).flatMap(_.add)
    assert(adds.toSet.size === adds.size, "a staged file was committed twice")
  }

  test("stress: reads racing OPTIMIZE always see one consistent snapshot") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = table()
    (0 to 3).foreach { i =>
      TxLog.append(spark.range(i * 50, (i + 1) * 50).toDF("k"), t)
    }
    val expected = (0L until 200L).toSet
    val optimizer = Future {
      (1 to 3).foreach(n => TxLog.optimize(spark, t, targetFiles = n))
    }
    // hammer snapshot reads until the optimizer finishes: every read must
    // be exactly the table contents — never a half-swapped file set (pre-
    // optimize files stay on disk until vacuum, so pinned snapshots hold)
    var readsDone = 0
    while (!optimizer.isCompleted) {
      assert(TxLog.read(spark, t).as[Long].collect().toSet === expected)
      readsDone += 1
    }
    Await.result(optimizer, 120.seconds)
    assert(TxLog.read(spark, t).as[Long].collect().toSet === expected)
    assert(readsDone > 0, "optimizer finished before any concurrent read ran")
  }

  test("applyChanges folds upserts and deletes; out-of-order deletes lose by version") {
    val t = table()
    TxLog.overwrite(Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L))
      .toDF("k", "v", "ver"), t)
    // batch: update k=1, delete k=2, STALE delete for k=3 (ver 0 < 1),
    // insert k=4, and k=5 inserted-then-deleted within the same batch
    val batch = Seq(
      (1L, "A", 2L, "upsert"),
      (2L, "b", 2L, "delete"),
      (3L, "c", 0L, "delete"), // stale: must NOT kill the newer upsert
      (4L, "d", 1L, "upsert"),
      (5L, "e", 1L, "upsert"), (5L, "e", 2L, "delete"))
      .toDF("k", "v", "ver", "op")
    TxLog.applyChanges(spark, t, batch, Seq("k"), "ver", "op")
    assert(TxLog.read(spark, t).as[(Long, String, Long)].collect().toSet ===
      Set((1L, "A", 2L), (3L, "c", 1L), (4L, "d", 1L)))
    // cdcSink is batchId-idempotent: a checkpoint-recovery replay no-ops
    val vBefore = TxLog.latestVersion(t)
    TxLog.cdcSink(t, Seq("k"), "ver", "op")(batch, 7L)
    val vAfter = TxLog.latestVersion(t)
    TxLog.cdcSink(t, Seq("k"), "ver", "op")(batch, 7L) // replay
    assert(TxLog.latestVersion(t) === vAfter && vAfter === vBefore.map(_ + 1))
  }

  test("deletion vectors: row-level DELETE with zero data files rewritten") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = table()
    TxLog.append(spark.range(0, 100).toDF("k"), t)               // v1
    TxLog.append(spark.range(100, 200).toDF("k"), t)             // v2
    val filesBefore = TxLog.activeFiles(t)
    val v3 = TxLog.deleteVectors(spark, t, col("k") % 10 === 0)  // v3
    assert(v3 === 3L)
    // NO data file changed — only a DV rides the commit
    assert(TxLog.activeFiles(t) === filesBefore)
    assert(TxLog.activeDvs(t).nonEmpty)
    assert(TxLog.read(spark, t).as[Long].collect().toSet ===
      (0L until 200L).filter(_ % 10 != 0).toSet)
    // time travel BEFORE the DV still sees every row
    assert(TxLog.read(spark, t, Some(2L)).count() === 200)
    // DVs are cumulative: a second dvDelete stacks on the first
    TxLog.deleteVectors(spark, t, col("k") < 5)                  // v4
    assert(TxLog.read(spark, t).as[Long].collect().toSet ===
      (5L until 200L).filter(_ % 10 != 0).toSet)
    // a no-match dvDelete commits nothing
    assert(TxLog.deleteVectors(spark, t, col("k") > 10000) === 4L)
    // range reads honor DVs exactly like full reads
    assert(TxLog.readRange(spark, t, "k", 0, 30).as[Long].collect().toSet ===
      (5L to 30L).filter(_ % 10 != 0).toSet)
    // copy-on-write UPDATE over a DV'd file must not resurrect dead rows
    TxLog.update(spark, t, col("k") === 7L, Map("k" -> lit(7000L)))
    val got = TxLog.read(spark, t).as[Long].collect().toSet
    assert(got.contains(7000L) && !got.contains(7L))
    assert(!got.exists(k => k < 5 || (k % 10 == 0 && k < 7000)),
      s"DV-deleted rows resurrected: ${got.filter(k => k < 5 || k % 10 == 0)}")
    // OPTIMIZE materializes the deletes and retires every DV
    TxLog.optimize(spark, t, targetFiles = 1)
    assert(TxLog.activeDvs(t).isEmpty)
    assert(TxLog.read(spark, t).as[Long].collect().toSet === got)
    // a DV commit demands a protocol-v3 reader; plain commits stay v1
    val json = TxLog.commits(t).map(c => c.version ->
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(t, "_txlog", f"${c.version}%020d.json")))).toMap
    assert(json(1L).contains("\"protocolVersion\":1"))
    assert(json(3L).contains("\"protocolVersion\":3"))
  }

  test("DV ranges: a 50% contiguous delete persists O(ranges), not O(deleted rows)") {
    import org.apache.spark.sql.functions.col
    val t = table()
    TxLog.append(spark.range(0, 100000).coalesce(1).toDF("k"), t)
    TxLog.deleteVectors(spark, t, col("k") < 50000)
    val dvs = TxLog.activeDvs(t)
    assert(dvs.nonEmpty)
    // the DV parquet holds one (file, bitmap) row per touched file, and a
    // contiguous 50 000-row delete run-encodes to a few bytes — the r8
    // row-level encoding persisted (and broadcast on every read) 50 000
    val dvRows = spark.read.parquet(dvs.map(f => s"$t/$f"): _*)
    assert(dvRows.columns.toSet === Set("file", "bitmap"))
    assert(dvRows.count() <= 2,
      s"contiguous delete must compress to ~1 row/file: ${dvRows.count()}")
    val dvBytes = dvRows.collect().map(_.getAs[Array[Byte]]("bitmap").length)
    assert(dvBytes.sum < 100, s"contiguous delete bitmap bytes: ${dvBytes.toSeq}")
    assert(TxLog.read(spark, t).count() === 50000)
    // scattered worst case (every other row) still answers exactly
    TxLog.deleteVectors(spark, t, col("k") % 2 === 0)
    assert(TxLog.read(spark, t).as[Long].collect().toSet ===
      (50001L until 100000L by 2).toSet)
    // and the relief valve collapses the scattered DV into a rewrite
    TxLog.optimizeDvs(spark, t, maxDeletedFraction = 0.2)
    assert(TxLog.activeDvs(t).isEmpty)
    assert(TxLog.read(spark, t).count() === 25000)
  }

  test("pre-r9 row-level DV files still read, and mix with range DVs") {
    import org.apache.spark.sql.functions.col
    val t = table()
    TxLog.append(spark.range(0, 100).coalesce(1).toDF("k"), t)     // v1
    val dataFile = TxLog.activeFiles(t).head
    // hand-write an r8-format DV — one (file, row_index) row per delete —
    // and activate it via a raw commit, simulating a table carried
    // forward from before the range encoding
    import spark.implicits._
    def sidecar(dir: String)(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      df.coalesce(1).write.parquet(s"$t/$dir")
      java.nio.file.Files.list(java.nio.file.Paths.get(t, dir))
        .iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
        .map(n => s"$dir/$n").toSeq
    }
    val legacy = sidecar("dv-legacy")(
      Seq((dataFile, 3L), (dataFile, 7L)).toDF("file", "row_index"))
    // and a range DV exactly as the writer before one-encoding wrote it:
    // one (file, start, end) row per consecutive run of deleted rows
    val ranged = sidecar("dv-ranges")(
      Seq((dataFile, 20L, 24L), (dataFile, 40L, 40L))
        .toDF("file", "start", "end"))
    assert(TxLog.tryCommit(t, TxLog.Commit(2L, Seq.empty, Seq.empty,
      "dvDelete", -1L, dvAdd = legacy ++ ranged)))
    val olderDead = Set(3L, 7L, 20L, 21L, 22L, 23L, 24L, 40L)
    assert(TxLog.read(spark, t).as[Long].collect().toSet ===
      (0L until 100L).toSet -- olderDead)
    // a NEW bitmap DV stacks on both legacy shapes (one fixed-schema read)
    TxLog.deleteVectors(spark, t, col("k") >= 90)                  // v3
    assert(TxLog.read(spark, t).as[Long].collect().toSet ===
      (0L until 90L).toSet -- olderDead)
    // optimizeDvs folds every format's dead counts and retires them all
    TxLog.optimizeDvs(spark, t, maxDeletedFraction = 0.05)
    assert(TxLog.activeDvs(t).isEmpty)
    assert(TxLog.read(spark, t).count() === 82)
  }

  test("optimizeDvs rewrites only heavily-deleted files and retires inert DVs") {
    import org.apache.spark.sql.functions.col
    val t = table()
    TxLog.append(spark.range(0, 100).coalesce(1).toDF("k"), t)    // file A
    TxLog.append(spark.range(100, 200).coalesce(1).toDF("k"), t)   // file B
    // one DV kills 60% of A but only 5% of B
    TxLog.deleteVectors(spark, t, col("k") < 60 || col("k") >= 195)
    val filesBefore = TxLog.activeFiles(t)
    val v = TxLog.optimizeDvs(spark, t, maxDeletedFraction = 0.2)
    assert(v === 4L)
    val after = TxLog.activeFiles(t)
    // A (60% dead) was rewritten; B (5% dead) kept its path and its DV
    assert(after.intersect(filesBefore).size === 1)
    assert(TxLog.activeDvs(t).nonEmpty, "partially-referenced DV must stay")
    assert(TxLog.read(spark, t).as[Long].collect().toSet ===
      (60L until 195L).toSet)
    // below-threshold state: second pass is a no-op, version unchanged
    assert(TxLog.optimizeDvs(spark, t, maxDeletedFraction = 0.2) === v)
    // push B over the threshold too: its rewrite retires the DV entirely
    TxLog.deleteVectors(spark, t, col("k") >= 150)
    TxLog.optimizeDvs(spark, t, maxDeletedFraction = 0.2)
    assert(TxLog.activeDvs(t).isEmpty, "fully-inert DVs must retire")
    assert(TxLog.read(spark, t).as[Long].collect().toSet ===
      (60L until 150L).toSet)
  }

  test("restore re-points the snapshot at an older version as a forward commit") {
    import org.apache.spark.sql.functions.col
    val t = table()
    TxLog.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)   // v1
    TxLog.overwrite(Seq((1L, "A"), (3L, "c")).toDF("k", "v"), t)   // v2
    TxLog.deleteVectors(spark, t, col("k") === 3L)                 // v3
    val v4 = TxLog.restore(spark, t, 1L)                           // v4
    assert(v4 === 4L)
    // current snapshot == v1 exactly (files AND deletion vectors)
    assert(TxLog.read(spark, t).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b")))
    assert(TxLog.activeDvs(t).isEmpty)
    // nothing was rewritten: restore reuses v1's files
    assert(TxLog.activeFiles(t) === TxLog.activeFiles(t, Some(1L)))
    // in-between versions stay time-travelable (incl. the DV'd one)
    assert(TxLog.read(spark, t, Some(3L)).as[(Long, String)]
      .collect().toSet === Set((1L, "A")))
    // history audits the restore; writes continue on top of it
    assert(TxLog.history(spark, t).filter(col("op") === "restore").count() === 1)
    TxLog.append(Seq((9L, "z")).toDF("k", "v"), t)                 // v5
    assert(TxLog.read(spark, t).count() === 3)
    // restoring past the head is refused
    intercept[IllegalArgumentException] { TxLog.restore(spark, t, 99L) }
  }

  test("vacuum sweeps retired deletion-vector files past the horizon") {
    import org.apache.spark.sql.functions.col
    val t = table()
    TxLog.append(spark.range(0, 50).toDF("k"), t)                  // v1
    TxLog.deleteVectors(spark, t, col("k") < 10)                   // v2
    val dv = TxLog.activeDvs(t)
    assert(dv.nonEmpty)
    TxLog.optimize(spark, t, targetFiles = 1)                      // v3: retires DV
    TxLog.append(spark.range(50, 60).toDF("k"), t)                 // v4
    TxLog.append(spark.range(60, 70).toDF("k"), t)                 // v5
    val swept = TxLog.vacuum(t, retainVersions = 2, minAgeMs = 0L)
    assert(dv.forall(swept.contains), s"retired DV not vacuumed: $swept")
    assert(TxLog.read(spark, t).as[Long].collect().toSet ===
      ((10L until 70L)).toSet)
  }

  test("shallow clone references the source snapshot; both sides evolve independently") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = table()
    val c = table()
    TxLog.append(spark.range(0, 100).toDF("k"), t, statsCols = Seq("k"))  // v1
    TxLog.append(spark.range(100, 200).toDF("k"), t, statsCols = Seq("k")) // v2
    TxLog.deleteVectors(spark, t, col("k") < 10)                           // v3
    TxLog.cloneTable(spark, t, c)
    // clone reads the source snapshot — deletion vectors included
    val expect = (10L until 200L).toSet
    assert(TxLog.read(spark, c).as[Long].collect().toSet === expect)
    // zero bytes copied: no data dirs under the clone, only its log
    val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(c))
      .iterator().asScala.map(_.getFileName.toString).toSeq
    assert(dirs === Seq("_txlog"), s"clone staged data: $dirs")
    // source stats ride the clone: range reads prune without re-scanning
    assert(TxLog.filesForRange(c, "k", 150, 160).size <
      TxLog.activeFiles(c).size)
    assert(TxLog.readRange(spark, c, "k", 150, 160).count() === 11)
    // clone writes never touch the source…
    TxLog.append(spark.range(500, 510).toDF("k"), c)
    assert(TxLog.read(spark, t).count() === 190)
    assert(TxLog.read(spark, c).count() === 200)
    // …and source DML after the clone never changes the clone (the
    // rewrite lands new source files; the clone still references the old)
    TxLog.update(spark, t, col("k") === 20L, Map("k" -> lit(9999L)))
    assert(TxLog.read(spark, c).as[Long].collect().toSet ===
      expect ++ (500L until 510L))
    // OPTIMIZE localizes the clone: every reference becomes clone-relative
    TxLog.optimize(spark, c, targetFiles = 1)
    assert(TxLog.activeFiles(c).forall(!_.startsWith("/")))
    assert(TxLog.read(spark, c).count() === 200)
    // absolute references demand a v2 reader; this clone also carries
    // the source's deletion vector, and DV commits demand v3
    def v1Json(table: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(table, "_txlog", f"${1L}%020d.json")))
    assert(v1Json(c).contains("\"protocolVersion\":3"))
    val dvFree = table()
    TxLog.cloneTable(spark, t, dvFree, asOf = Some(2L))
    assert(v1Json(dvFree).contains("\"protocolVersion\":2"))
    // cloning onto an existing table is refused
    intercept[IllegalArgumentException] { TxLog.cloneTable(spark, t, c) }
  }

  test("cloning a clone resolves already-absolute entries instead of double-prefixing") {
    import org.apache.spark.sql.functions.col
    val t = table()
    val c1 = table()
    val c2 = table()
    TxLog.append(spark.range(0, 100).toDF("k"), t, statsCols = Seq("k"))
    TxLog.deleteVectors(spark, t, col("k") < 10)
    TxLog.cloneTable(spark, t, c1)
    // c1 appends locally: its active set now MIXES absolute (source) and
    // relative (own) entries — the case that used to double-prefix
    TxLog.append(spark.range(500, 520).toDF("k"), c1, statsCols = Seq("k"))
    val expect = (10L until 100L).toSet ++ (500L until 520L)
    assert(TxLog.read(spark, c1).as[Long].collect().toSet === expect)
    TxLog.cloneTable(spark, c1, c2)
    // the second clone reads the first's snapshot exactly (DVs included)
    assert(TxLog.read(spark, c2).as[Long].collect().toSet === expect)
    // every c2 entry is absolute and points at a real file on disk
    val entries = TxLog.activeFiles(c2)
    assert(entries.forall(_.startsWith("/")), entries)
    entries.foreach { f =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(f)),
        s"clone-of-clone reference resolves to a nonexistent path: $f")
    }
    // stats survived the re-keying: range reads still prune on c2
    assert(TxLog.filesForRange(c2, "k", 505, 510).size <
      TxLog.activeFiles(c2).size)
    assert(TxLog.readRange(spark, c2, "k", 505, 510).count() === 6)
  }

  test("copy-on-write DML retires DVs whose every referenced file was rewritten") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = table()
    TxLog.append(spark.range(0, 100).coalesce(1).toDF("k"), t)    // file A
    TxLog.append(spark.range(100, 200).coalesce(1).toDF("k"), t)  // file B
    TxLog.deleteVectors(spark, t, col("k") < 10)  // DV references only A
    assert(TxLog.activeDvs(t).nonEmpty)
    // UPDATE touches only file A: the rewrite materializes the DV's
    // deletes, so the DV references no active file and retires with the
    // commit instead of paying the anti-join broadcast forever
    TxLog.update(spark, t, col("k") === 50L, Map("k" -> lit(5000L)))
    assert(TxLog.activeDvs(t).isEmpty, "inert DV stayed active")
    assert(TxLog.read(spark, t).as[Long].collect().toSet ===
      (10L until 200L).toSet - 50L + 5000L)
    // a DV referencing an UNtouched file survives the same path
    TxLog.deleteVectors(spark, t, col("k") === 150L) // references only B
    TxLog.update(spark, t, col("k") === 5000L, Map("k" -> lit(50L)))
    assert(TxLog.activeDvs(t).nonEmpty, "live DV wrongly retired")
    assert(TxLog.read(spark, t).as[Long].collect().toSet ===
      (10L until 200L).toSet - 150L)
  }

  test("checkpoint protocol stamp follows the minimum-readable-version rule") {
    import org.apache.spark.sql.functions.col
    val t = table()
    TxLog.append(spark.range(0, 10).toDF("k"), t)                  // v1
    TxLog.compact(t)
    def cpJson(v: Long) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t, "_txlog", f"$v%020d.checkpoint.json")))
    // a table that never used a v2 feature checkpoints readable-by-v1
    assert(cpJson(1L).contains("\"protocolVersion\":1"))
    // DV history upgrades the stamp: folding this table needs a v3 reader
    TxLog.deleteVectors(spark, t, col("k") < 2)                    // v2
    TxLog.compact(t)
    assert(cpJson(2L).contains("\"protocolVersion\":3"))
  }

  test("applyChanges tie (same key AND version): the delete wins deterministically") {
    val t = table()
    TxLog.overwrite(Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "v", "ver"), t)
    // one batch carries BOTH a delete and an upsert for k=1 at ver=2 — a
    // full (version, src) tie that row_number would otherwise break
    // arbitrarily; the documented contract says the delete beats it
    val batch = Seq(
      (1L, "X", 2L, "upsert"), (1L, "x", 2L, "delete"),
      (2L, "B", 2L, "upsert"))
      .toDF("k", "v", "ver", "op")
    (1 to 3).foreach { _ =>
      val probe = table()
      TxLog.overwrite(Seq((1L, "a", 1L), (2L, "b", 1L))
        .toDF("k", "v", "ver"), probe)
      TxLog.applyChanges(spark, probe, batch, Seq("k"), "ver", "op")
      assert(TxLog.read(spark, probe).as[(Long, String, Long)]
        .collect().toSet === Set((2L, "B", 2L)),
        "tie between same-version delete and upsert must resolve to delete")
    }
  }

  test("a pinned time-travel reader on a retained version survives vacuum") {
    val t = table()
    TxLog.overwrite(Seq((1L, "a")).toDF("k", "v"), t)              // v1
    TxLog.overwrite(Seq((2L, "b")).toDF("k", "v"), t)              // v2
    TxLog.append(Seq((3L, "c")).toDF("k", "v"), t)                 // v3
    // reader pins v2 — older than head but inside retainVersions=2 —
    // BEFORE vacuum runs; vacuum must protect every horizon version's
    // files, so the open relation keeps reading afterwards
    val pinned = spark.read.format("graft.sources.txlog")
      .option("path", t).option("versionAsOf", "2").load()
    TxLog.vacuum(t, retainVersions = 2)
    assert(pinned.as[(Long, String)].collect().toSet === Set((2L, "b")))
    // and a FRESH v2 read agrees — the protection is the horizon, not a
    // lucky cache
    assert(TxLog.read(spark, t, Some(2L)).as[(Long, String)]
      .collect().toSet === Set((2L, "b")))
  }

  test("vacuum dry run at the same state previews exactly the real deletion set") {
    val t = table()
    TxLog.overwrite(Seq((1L, "a")).toDF("k", "v"), t)              // v1
    TxLog.overwrite(Seq((2L, "b")).toDF("k", "v"), t)              // v2: v1 files doomed
    TxLog.append(Seq((3L, "c")).toDF("k", "v"), t)                 // v3
    TxLog.writeData(Seq((9L, "ghost")).toDF("k", "v"), t, TxLog.mappingAsOf(t))          // orphan
    val preview = TxLog.vacuum(t, retainVersions = 2, dryRun = true)
    assert(preview.nonEmpty)
    // preview touched nothing: a second dry run sees the identical set
    assert(TxLog.vacuum(t, retainVersions = 2, dryRun = true).toSet ===
      preview.toSet)
    // with no intervening commit the real run deletes exactly the preview
    // — never MORE than the audit showed (the property an operator relies
    // on when approving the preview)
    val deleted = TxLog.vacuum(t, retainVersions = 2)
    assert(deleted.toSet === preview.toSet)
    assert(TxLog.read(spark, t).as[(Long, String)].collect().toSet ===
      Set((2L, "b"), (3L, "c")))
  }

  test("data source write path: save modes map to atomic txlog commits") {
    import org.apache.spark.sql.functions.col
    val t = table()
    def fmt = spark.range(0, 50).toDF("k").write
      .format("graft.sources.txlog").option("path", t)
    fmt.mode("overwrite").option("statsCols", "k").save()
    assert(TxLog.latestVersion(t) === Some(1L))
    // stats option recorded per-file skipping bounds
    assert(TxLog.filesForRange(t, "k", 1000, 2000).isEmpty)
    spark.range(50, 60).toDF("k").write.format("graft.sources.txlog")
      .option("path", t).mode("append").save()
    assert(spark.read.format("graft.sources.txlog").option("path", t)
      .load().count() === 60)
    intercept[Exception] { fmt.mode("errorifexists").save() }
    // ignore: existing table untouched
    spark.range(0, 5).toDF("k").write.format("graft.sources.txlog")
      .option("path", t).mode("ignore").save()
    assert(TxLog.latestVersion(t) === Some(2L))
    // schema enforcement holds through the sink API
    intercept[Exception] {
      spark.range(0, 5).select(col("id").cast("string").alias("k"))
        .write.format("graft.sources.txlog").option("path", t)
        .mode("append").save()
    }
  }

  test("data-source relation pins its version: a commit mid-plan cannot swap the scan") {
    val t = table()
    TxLog.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)   // v1
    val rel = spark.read.format("graft.sources.txlog").option("path", t).load()
    // a writer lands between planning and execution — even an evolution
    TxLog.append(Seq((3L, "c", 7.0)).toDF("k", "v", "extra"), t,
      mergeSchema = true)                                          // v2
    // the relation still scans the v1 snapshot it planned
    assert(rel.as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b")))
    // a FRESH relation sees v2
    assert(spark.read.format("graft.sources.txlog").option("path", t)
      .load().count() === 3)
  }

  test("optimizeSmall compacts only sub-threshold files; large files stay; DVs retire precisely") {
    import org.apache.spark.sql.functions.col
    val t = table()
    TxLog.overwrite(spark.range(0, 1000).toDF("k").coalesce(1), t)     // v1: big
    (1 to 3).foreach(i =>
      TxLog.append(Seq(1000L + i).toDF("k").coalesce(1), t))           // v2-4: trickle
    val sizes = TxLog.fileSizes(t)
    val big = TxLog.activeFiles(t).maxBy(sizes)
    TxLog.deleteVectors(spark, t, col("k") === 5L)                     // DV on big
    TxLog.deleteVectors(spark, t, col("k") === 1001L)                  // DV on small
    val v = TxLog.optimizeSmall(spark, t, sizes(big), targetFiles = 1)
    assert(v.nonEmpty)
    val after = TxLog.activeFiles(t)
    assert(after.contains(big), "the large file must not be rewritten")
    assert(after.size === 2, s"big + one compacted, got $after")
    // deletes: the small-file DV materialized into the rewrite, the
    // big-file DV still filters its untouched file
    assert(TxLog.read(spark, t).as[Long].collect().toSet ===
      ((0L until 1000L).toSet - 5L ++ Set(1002L, 1003L)))
    assert(TxLog.activeDvs(t).size === 1, "only the big-file DV stays active")
    // converged: one compacted small file left → nothing to gain
    assert(TxLog.optimizeSmall(spark, t, sizes(big)).isEmpty)
  }

  test("merge prunes untouched files via key stats: only intersecting files rewritten, DVs on kept files survive") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = table()
    // three key-clustered appends with recorded stats: [0,99] [100,199] [200,299]
    Seq(0L, 100L, 200L).foreach(lo =>
      TxLog.append(spark.range(lo, lo + 100).toDF("k")
        .withColumn("ver", lit(1L)).coalesce(1), t, statsCols = Seq("k")))
    TxLog.deleteVectors(spark, t, col("k") === 250L)   // DV on the [200,299] file
    val statsByFile = TxLog.commits(t).flatMap(_.stats).toMap
    def fileWithMin(mn: Double) =
      statsByFile.collectFirst { case (f, s) if s("k")._1 == mn => f }.get
    val (loF, midF, hiF) = (fileWithMin(0), fileWithMin(100), fileWithMin(200))
    // batch touches only the middle range
    TxLog.merge(spark, t,
      Seq((150L, 9L), (199L, 9L)).toDF("k", "ver"), Seq("k"), "ver")
    val after = TxLog.activeFiles(t)
    assert(after.contains(loF) && after.contains(hiF),
      "files outside the batch's key bounds must stay byte-identical in place")
    assert(!after.contains(midF), "the intersecting file must be rewritten")
    // semantics unchanged: updated keys win, untouched rows (and the DV
    // on the kept file) still apply
    val rows = TxLog.read(spark, t).as[(Long, Long)].collect().toMap
    assert(rows(150L) === 9L && rows(199L) === 9L && rows(100L) === 1L)
    assert(!rows.contains(250L), "DV on the kept file must survive the merge")
    assert(rows.size === 299)
    assert(TxLog.activeDvs(t).nonEmpty)
    // a batch with a NULL key disables pruning (falls back to full rewrite)
    TxLog.merge(spark, t,
      Seq((Some(5L), 9L), (None: Option[Long], 9L)).toDF("k", "ver"),
      Seq("k"), "ver")
    assert(!TxLog.activeFiles(t).contains(loF),
      "null-key batch must fall back to rewriting everything")
    assert(TxLog.read(spark, t).filter(col("k").isNull).count() === 1)
  }

  test("applyChanges prunes untouched files via key stats; deletes still land") {
    import org.apache.spark.sql.functions.lit
    val t = table()
    Seq(0L, 100L).foreach(lo =>
      TxLog.append(spark.range(lo, lo + 100).toDF("k")
        .withColumn("ver", lit(1L)).coalesce(1), t, statsCols = Seq("k")))
    val statsByFile = TxLog.commits(t).flatMap(_.stats).toMap
    val loF = statsByFile.collectFirst { case (f, s) if s("k")._1 == 0 => f }.get
    // CDC batch: delete k=150, upsert k=120 — both inside the high file
    TxLog.applyChanges(spark, t,
      Seq((150L, 2L, "delete"), (120L, 2L, "upsert"))
        .toDF("k", "ver", "op"), Seq("k"), "ver", "op")
    assert(TxLog.activeFiles(t).contains(loF),
      "the file outside the batch's key bounds must stay in place")
    val rows = TxLog.read(spark, t).as[(Long, Long)].collect().toMap
    assert(!rows.contains(150L) && rows(120L) === 2L && rows(0L) === 1L)
    assert(rows.size === 199)
  }

  test("deep clone survives source vacuum; shallow clone documents the hazard") {
    import org.apache.spark.sql.functions.lit
    val src = table(); val deep = table(); val shallow = table()
    TxLog.overwrite(spark.range(0, 100).toDF("k").coalesce(1), src)   // v1
    TxLog.addConstraint(spark, src, "k_nonneg", "k >= 0")
    TxLog.cloneTableDeep(spark, src, deep)
    TxLog.cloneTable(spark, src, shallow)
    // source moves on and vacuums past the cloned version
    TxLog.overwrite(spark.range(500, 510).toDF("k").coalesce(1), src) // v3
    TxLog.vacuum(src, retainVersions = 1)
    // the deep clone is independent: reads fine, constraint carried over
    assert(TxLog.read(spark, deep).count() === 100)
    assert(TxLog.constraints(deep) === Map("k_nonneg" -> "k >= 0"))
    intercept[Exception] {
      TxLog.append(Seq(-5L).toDF("k").withColumn("k", lit(-5L)), deep)
    }
    // the shallow clone referenced the vacuumed files — the documented
    // Delta-parity hazard the vacuum Scaladoc warns about
    intercept[Exception] { TxLog.read(spark, shallow).collect() }
  }

  test("merge on a cloned table keeps DVs covering untouched absolute entries (fileKey normalization)") {
    import org.apache.spark.sql.functions.{col, lit}
    val src = table(); val dst = table()
    Seq(0L, 100L).foreach(lo =>
      TxLog.append(spark.range(lo, lo + 100).toDF("k")
        .withColumn("ver", lit(1L)).coalesce(1), src, statsCols = Seq("k")))
    TxLog.cloneTable(spark, src, dst)
    // DV on the clone's HIGH file (an absolute entry referencing src)
    TxLog.deleteVectors(spark, dst, col("k") === 150L)
    // merge touches only the LOW range: the high entry is untouched, and
    // its DV must survive — raw absolute paths would never match the
    // DV's fileKey refs, mis-retiring it and resurrecting k=150
    TxLog.merge(spark, dst, Seq((5L, 9L)).toDF("k", "ver"), Seq("k"), "ver")
    val rows = TxLog.read(spark, dst).as[(Long, Long)].collect().toMap
    assert(!rows.contains(150L), "the kept file's DV must survive the pruned merge")
    assert(rows(5L) === 9L && rows.size === 199)
    assert(TxLog.activeDvs(dst).nonEmpty)
  }

  test("optimize targetBytes sizes the output from commit-carried bytes") {
    val t = table()
    TxLog.overwrite(spark.range(0, 10000).toDF("k").repartition(8), t)
    val total = TxLog.fileSizes(t).values.sum
    TxLog.optimize(spark, t, targetBytes = Some(total / 2))
    val n = TxLog.activeFiles(t).size
    assert(n >= 2 && n <= 3, s"expected ~2 output files, got $n")
    assert(TxLog.read(spark, t).count() === 10000)
  }

  test("optimizeSmall targetBytes bin-packs small files to a byte budget; large files stay") {
    import org.apache.spark.sql.functions._
    val t = table()
    // one properly-sized file + a trickle of small single-row appends —
    // the streaming-accretion shape byte-targeted compaction exists for
    TxLog.overwrite(spark.range(0, 50000).toDF("k")
      .withColumn("v", $"k" * 2).coalesce(1), t)
    (0 until 6).foreach(i =>
      TxLog.append(Seq((100000L + i, 0L)).toDF("k", "v").coalesce(1), t))
    val sizes = TxLog.fileSizes(t)
    val threshold = 8192L
    val small = sizes.filter(_._2 < threshold).keys.toSet
    val large = sizes.keys.toSet -- small
    assert(small.size === 6 && large.size === 1,
      s"fixture sizes unexpected: $sizes")
    val smallBytes = small.toSeq.map(sizes).sum
    // budget half the small bytes per output file → exactly 2 outputs
    TxLog.optimizeSmall(spark, t, threshold,
      targetBytes = Some((smallBytes + 1) / 2))
    val last = TxLog.commits(t).last
    assert(last.remove.toSet === small, "only sub-threshold files compact")
    assert(last.add.size === 2,
      s"byte budget should bin-pack to 2 files, got ${last.add.size}")
    assert(TxLog.activeFiles(t).toSet.intersect(large) === large,
      "the large file must stay byte-identical in place")
    assert(TxLog.read(spark, t).count() === 50006L)
  }

  test("legacy numeric stats on a string column are ignored (mixed-era log soundness)") {
    import org.apache.spark.sql.functions._
    val t = table()
    // a pre-sstats-era writer recorded string bounds CAST THROUGH DOUBLE:
    // lexicographic min/max of {'100','9'} is ('100','9'), which casts to
    // the INVERTED numeric interval (100.0, 9.0) — pruning from it drops
    // the file even though it holds k='9', inside the queried range
    val df = Seq(("100", 1L), ("9", 2L)).toDF("k", "ver").coalesce(1)
    val add = TxLog.writeData(df, t, TxLog.mappingAsOf(t))
    assert(add.size === 1)
    assert(TxLog.tryCommit(t, TxLog.Commit(1L, add, Seq.empty, "append", -1L,
      stats = Map(add.head -> Map("k" -> (100.0, 9.0))),
      schemaDdl = Some(df.schema.toDDL))))
    // the range reader must not trust numeric bounds on a string column:
    // the file survives pruning and the read equals the full-scan filter
    assert(TxLog.filesForRange(t, "k", 5.0, 20.0).toSet === add.toSet)
    assert(TxLog.readRange(spark, t, "k", 5.0, 20.0)
      .select("k").as[String].collect().toSet === Set("9"))
    // numeric stats on a genuinely numeric column still prune
    TxLog.append(spark.range(1000, 1100).toDF("ver")
      .withColumn("k", lit("x")).select("k", "ver"), t,
      statsCols = Seq("ver"))
    assert(TxLog.filesForRange(t, "ver", 0.0, 10.0).size === 1,
      "numeric pruning must survive the string-column guard")
  }

  test("scattered deletes persist as bitsets: bounded bytes, exact reads, v3 stamp") {
    import org.apache.spark.sql.functions._
    val t = table()
    // one 60k-row file; deleting every other row would cost 30k width-1
    // range rows under a range encoding — the scatter pattern the
    // bitset's dense container bounds at ~8 KiB
    TxLog.overwrite(spark.range(0, 60000).toDF("k")
      .withColumn("v", col("k") * 2).coalesce(1), t)
    TxLog.deleteVectors(spark, t, pmod(col("k"), lit(2)) === 0)
    val dvs = TxLog.activeDvs(t)
    assert(dvs.size === 1)
    val dvDf = spark.read.parquet(s"$t/${dvs.head}")
    assert(dvDf.columns.contains("bitmap"), "scatter delete should bitset-encode")
    val bytes = dvDf.select("bitmap").head.getAs[Array[Byte]](0)
    assert(bytes.length < 10000, s"bitset should be ~8 KiB, got ${bytes.length}")
    assert(TxLog.read(spark, t).count() === 30000L)
    // a v2-era range reader would silently drop bitmap rows (deleted rows
    // resurrect) — the commit must demand a v3 reader
    assert(TxLog.commits(t).last.minReader === 3)
    // second scatter delete on the SAME file: two bitmaps union at read
    TxLog.deleteVectors(spark, t,
      pmod(col("k"), lit(4)) === 1 && col("k") < 60000)
    assert(TxLog.read(spark, t).count() === 15000L)
    // contiguous delete on a SECOND file run-encodes — bitsets of every
    // container kind serve one snapshot side by side
    TxLog.append(spark.range(100000, 101000).toDF("k")
      .withColumn("v", col("k") * 2).coalesce(1), t)
    TxLog.deleteVectors(spark, t, col("k").between(100000, 100499))
    val dvAll = TxLog.activeDvs(t)
    val lastDv = spark.read.parquet(s"$t/${TxLog.commits(t).last.dvAdd.head}")
    val lastBytes = lastDv.select("bitmap").head.getAs[Array[Byte]](0).length
    assert(lastBytes < 100, s"the contiguous delete's bitmap is run-encoded: $lastBytes bytes")
    assert(TxLog.read(spark, t).count() === 15500L)
    assert(TxLog.read(spark, t).agg(min("k")).head.getLong(0) === 3L)
    // cardinality feeds optimizeDvs: both heavily-deleted files rewrite,
    // every DV (dense and run-encoded alike) retires
    TxLog.optimizeDvs(spark, t, maxDeletedFraction = 0.2)
    assert(TxLog.activeDvs(t).isEmpty)
    assert(TxLog.read(spark, t).count() === 15500L)
    assert(dvAll.nonEmpty)
  }

  test("CDF pre-images: updates split into pre/post rows; insert/delete unchanged") {
    val t = table()
    TxLog.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)  // v1
    TxLog.overwrite(Seq((1L, "A"), (3L, "c")).toDF("k", "v"), t)  // v2
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String, String)].collect().toSet
    val withPre = rows(TxLog.changes(spark, t, Seq("k"), 1L, 2L,
      preImages = true))
    assert(withPre === Set(
      (1L, "a", "update_preimage"), (1L, "A", "update_postimage"),
      (2L, "b", "delete"), (3L, "c", "insert")))
    // default keeps the single new-image update row
    assert(rows(TxLog.changes(spark, t, Seq("k"), 1L, 2L)) === Set(
      (1L, "A", "update"), (2L, "b", "delete"), (3L, "c", "insert")))
    // the O(files-touched) per-commit diff agrees in both modes
    assert(rows(TxLog.commitChanges(spark, t, 2L, Seq("k"),
      preImages = true)) === withPre)
  }

  test("bitset probe participates in codegen (no silent interpreter fallback)") {
    import org.apache.spark.sql.functions._
    // fallback=false turns a janino compile failure of the generated
    // probe into a hard error instead of a silent interpreted plan
    val s = spark.newSession()
    graft.Graft.referenceSemantics(s)
    s.conf.set("spark.sql.codegen.fallback", "false")
    val t = table()
    TxLog.overwrite(s.range(0, 60000).toDF("k").coalesce(1), t)
    TxLog.deleteVectors(s, t, pmod(col("k"), lit(2)) === 0)
    assert(TxLog.read(s, t).count() === 30000L)
    assert(TxLog.readRange(s, t, "k", 100.0, 200.0).count() === 50L)
  }

  test("table properties: set/unset fold last-write-wins; declared bloom config; clones carry") {
    val t = table()
    TxLog.overwrite(Seq((1L, "a")).toDF("k", "v"), t)               // v1
    TxLog.setProperties(t,
      Map("graft.bloom.columns" -> "k", "owner" -> "pipeline"))     // v2
    assert(TxLog.properties(t) ===
      Map("graft.bloom.columns" -> "k", "owner" -> "pipeline"))
    // declared config: a plain append bloom-indexes k with NO sidecars
    // to derive from and no caller-passed bloomCols
    TxLog.append(Seq((2L, "b")).toDF("k", "v"), t)                  // v3
    assert(TxLog.commits(t).last.bloomAdd.nonEmpty,
      "declared graft.bloom.columns must index a plain append")
    assert(TxLog.readEquals(spark, t, "k", Seq(2L)).count() === 1L)
    // last-write-wins update + unset
    TxLog.setProperties(t, Map("owner" -> "team2"))                 // v4
    TxLog.unsetProperties(t, Seq("graft.bloom.columns"))            // v5
    assert(TxLog.properties(t) === Map("owner" -> "team2"))
    // as-of reads the historical map
    assert(TxLog.properties(t, Some(2L)) ===
      Map("graft.bloom.columns" -> "k", "owner" -> "pipeline"))
    // a shallow clone at v2 carries exactly the as-of properties
    val dst = table()
    TxLog.cloneTable(spark, t, dst, asOf = Some(2L))
    assert(TxLog.properties(dst) ===
      Map("graft.bloom.columns" -> "k", "owner" -> "pipeline"))
  }

  test("declared retention floor caps how aggressively vacuum may run") {
    val t = table()
    Seq("a", "b", "c", "d").zipWithIndex.foreach { case (v, i) =>
      TxLog.overwrite(Seq((i.toLong, v)).toDF("k", "v"), t) }     // v1-4
    TxLog.setProperties(t, Map("graft.vacuum.retainVersions" -> "10"))
    // an aggressive caller asks to keep 1 version; the declared floor
    // protects them all — nothing sweeps
    assert(TxLog.vacuum(t, retainVersions = 1).isEmpty)
    assert(TxLog.read(spark, t, Some(1L)).count() === 1L) // time travel intact
    // dropping the floor re-enables the aggressive vacuum
    TxLog.unsetProperties(t, Seq("graft.vacuum.retainVersions"))
    assert(TxLog.vacuum(t, retainVersions = 1).nonEmpty)
  }

  test("concurrent setProperties and merge both land (no lost commits)") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val t = table()
    TxLog.overwrite(Seq((1L, "a", 1L)).toDF("k", "v", "ver"), t)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val f1 = Future(TxLog.setProperties(t, Map("owner" -> "raceA")))
    val f2 = Future(TxLog.merge(spark, t,
      Seq((2L, "b", 1L)).toDF("k", "v", "ver"), Seq("k"), "ver"))
    val (v1, v2) = (Await.result(f1, 120.seconds), Await.result(f2, 120.seconds))
    pool.shutdown()
    assert(Set(v1, v2) === Set(2L, 3L), s"got versions $v1,$v2")
    assert(TxLog.properties(t) === Map("owner" -> "raceA"))
    assert(TxLog.read(spark, t).count() === 2L)
  }

  test("declared graft.stats.columns records skipping stats on plain writes") {
    import org.apache.spark.sql.functions.col
    val t = table()
    TxLog.overwrite(spark.range(0, 100).toDF("k").coalesce(1), t)
    TxLog.setProperties(t, Map("graft.stats.columns" -> "k"))
    // three plain appends, NO statsCols passed — the declared property
    // records per-file bounds, so the range read prunes
    Seq(1, 2, 3).foreach(i =>
      TxLog.append(spark.range(i * 1000, i * 1000 + 100).toDF("k")
        .coalesce(1), t))
    Seq(1, 2, 3).foreach(i =>
      assert(TxLog.commits(t).toList(i + 1).stats.nonEmpty,
        s"append $i recorded no stats despite the declared property"))
    val pruned = TxLog.filesForRange(t, "k", 2000.0, 2099.0)
    // the pre-property overwrite file has no stats (conservative read);
    // of the three declared-stats appends only one intersects
    assert(pruned.size === 2, s"expected base + one append, got $pruned")
    assert(TxLog.readRange(spark, t, "k", 2000.0, 2099.0).count() === 100L)
  }

  test("declared stats survive a MERGE: later merges still prune the rewrite") {
    import org.apache.spark.sql.functions._
    val t = table()
    TxLog.setProperties(t, Map("graft.stats.columns" -> "k"))        // v1
    Seq(0, 1, 2).foreach(i =>
      TxLog.append(spark.range(i * 100, (i + 1) * 100).toDF("k")
        .withColumn("ver", lit(1L)).coalesce(1), t))                 // v2-4
    // merge into file 0's key range: only that file rewrites, and the
    // rewrite RE-RECORDS stats from the declared property
    TxLog.merge(spark, t, Seq((50L, 2L)).toDF("k", "ver"), Seq("k"), "ver")
    assert(TxLog.commits(t).last.remove.size === 1)
    assert(TxLog.commits(t).last.stats.nonEmpty,
      "merge output lost its skipping stats")
    // a merge into file 1's range now touches ONE file — without the
    // re-record, the stats-less rewrite of file 0 would join every
    // future merge's touched set (one-merge decay of the CDC fast path)
    TxLog.merge(spark, t, Seq((150L, 2L)).toDF("k", "ver"), Seq("k"), "ver")
    assert(TxLog.commits(t).last.remove.size === 1,
      s"rewrite joined the touched set: ${TxLog.commits(t).last.remove}")
    assert(TxLog.read(spark, t).count() === 300L)
    assert(TxLog.readEquals(spark, t, "k", Seq(50L)).count() === 1L)
  }

  test("commit cache follows the directory: extensions append, deletions reparse") {
    val t = table()
    TxLog.overwrite(Seq((1L, "a")).toDF("k", "v"), t)               // v1
    assert(TxLog.commits(t).map(_.version) === Seq(1L))             // cache primed
    TxLog.append(Seq((2L, "b")).toDF("k", "v"), t)                  // v2 extends
    assert(TxLog.commits(t).map(_.version) === Seq(1L, 2L))
    // out-of-band deletion (not a protocol operation): the listing is no
    // longer an extension of the cached prefix, so the next question
    // reparses from the directory instead of serving the cached state
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(t, "_txlog").resolve(f"${2L}%020d.json"))
    assert(TxLog.commits(t).map(_.version) === Seq(1L))
    assert(TxLog.read(spark, t).as[(Long, String)].collect().toSet ===
      Set((1L, "a")))
    // and the table keeps working: a fresh v2 lands and reads
    TxLog.append(Seq((3L, "c")).toDF("k", "v"), t)
    assert(TxLog.commits(t).map(_.version) === Seq(1L, 2L))
    assert(TxLog.read(spark, t).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (3L, "c")))
  }

  test("bitset DVs integrate: change feed classifies scatter-deletes; clones carry them") {
    import org.apache.spark.sql.functions._
    val t = table()
    TxLog.overwrite(spark.range(0, 20000).toDF("k")
      .withColumn("v", col("k")).coalesce(1), t)                    // v1
    TxLog.deleteVectors(spark, t, pmod(col("k"), lit(2)) === 0)     // v2: bitset
    assert(TxLog.commits(t).last.minReader === 3,
      "10k scattered singles should bitset-encode")
    // the change feed reads both snapshots THROUGH the bitset probe:
    // v1→v2 is exactly the 10 000 scatter-deleted keys, as delete rows
    val byType = TxLog.changes(spark, t, Seq("k"), 1L, 2L)
      .groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map("delete" -> 10000L))
    // a shallow clone carries the bitset DV as an absolute ref; the
    // probe's fileKey normalization makes the clone read identical
    val dst = table()
    TxLog.cloneTable(spark, t, dst)
    assert(TxLog.read(spark, dst).count() === 10000L)
    assert(TxLog.read(spark, dst).agg(min("k")).head.getLong(0) === 1L)
  }

  test("equality probes alone prune by recorded min/max when no bloom exists") {
    val t = table()
    // three key-disjoint files with k stats and no bloom index
    Seq(0, 1, 2).foreach(i => TxLog.append(
      spark.range(i * 100, (i + 1) * 100).toDF("k").coalesce(1), t,
      statsCols = Seq("k")))
    assert(TxLog.activeBlooms(t).isEmpty)
    val pruned = TxLog.readPruned(spark, t, Map.empty, Map.empty,
      eqProbes = Map("k" -> Seq(150L)))
    assert(pruned.inputFiles.length === 1,
      s"opened ${pruned.inputFiles.length} of ${TxLog.activeFiles(t).size}")
    assert(pruned.filter($"k" === 150L).count() === 1L)
    // a value outside every file's [min, max] opens nothing
    assert(TxLog.readPruned(spark, t, Map.empty, Map.empty,
      eqProbes = Map("k" -> Seq(999L))).inputFiles.isEmpty)
  }

  test("SQL WHERE over a txlog view prunes files through pushed-filter stats") {
    import org.apache.spark.sql.functions._
    val t = table()
    // three key-disjoint files, numeric + string stats recorded
    Seq(0, 1, 2).foreach(i => TxLog.append(
      spark.range(i * 100, (i + 1) * 100).toDF("k")
        .withColumn("s", format_string("s%04d", col("k")))
        .coalesce(1), t, statsCols = Seq("k", "s")))
    // the combined pruned read scans exactly the intersecting file
    assert(TxLog.readPruned(spark, t,
      Map("k" -> (120.0, 180.0)), Map.empty).inputFiles.length === 1)
    assert(TxLog.readPruned(spark, t,
      Map.empty, Map("s" -> ("s0120", "s0180"))).inputFiles.length === 1)
    // SQL end-to-end: a plain WHERE over the view gives the same answer
    // the full scan would (the relation prunes from the pushed filters)
    val id = java.util.UUID.randomUUID.toString.take(8)
    spark.sql(s"""CREATE TEMPORARY VIEW sqlskip_$id
                 |USING graft.sources.txlog OPTIONS (path '$t')""".stripMargin)
    def q(where: String): Set[Long] =
      spark.sql(s"SELECT k FROM sqlskip_$id WHERE $where")
        .as[Long].collect().toSet
    assert(q("k BETWEEN 120 AND 180") === (120L to 180L).toSet)
    assert(q("s >= 's0120' AND s <= 's0180'") === (120L to 180L).toSet)
    // one-sided string predicate: prunes nothing (no sound upper
    // sentinel exists) but the answer stays exact
    assert(q("s >= 's0280'") === (280L to 299L).toSet)
    // equality point-lookups bound both sides
    assert(q("k = 150") === Set(150L))
    assert(q("s = 's0042'") === Set(42L))
    // conjunctive mix: numeric range + string bound + equality in one
    // WHERE — each sound bound narrows independently, result exact
    assert(q("k BETWEEN 100 AND 250 AND s >= 's0150' AND s <= 's0260' AND k IN (160, 170, 999)") ===
      Set(160L, 170L))
    assert(TxLog.readPruned(spark, t,
      Map("k" -> (100.0, 250.0)), Map("s" -> ("s0150", "s0260")))
      .inputFiles.length === 2) // files [100,200) and [200,300)
    spark.catalog.dropTempView(s"sqlskip_$id")
  }

  test("SQL DDL lifecycle: CREATE TABLE with schema on a fresh path, INSERT, shape mismatch refused") {
    val t = table()
    spark.sql(s"""CREATE TABLE txddl (k BIGINT, v STRING)
                 |USING graft.sources.txlog OPTIONS (path '$t')""".stripMargin)
    try {
      // a legal empty table: zero rows, the declared schema, one commit
      assert(spark.table("txddl").count() === 0)
      assert(spark.table("txddl").schema.fieldNames.toSeq === Seq("k", "v"))
      assert(TxLog.latestVersion(t) === Some(1L))
      spark.sql("INSERT INTO txddl VALUES (1, 'a')")
      assert(spark.table("txddl").as[(Long, String)].collect().toSet ===
        Set((1L, "a")))
      // re-declaring the same shape is a no-op; a DIFFERENT shape refuses
      TxLog.createTable(t, spark.table("txddl").schema)
      assert(TxLog.latestVersion(t) === Some(2L), "same-shape CREATE is a no-op")
      val e = intercept[IllegalArgumentException] {
        TxLog.createTable(t, org.apache.spark.sql.types.StructType.fromDDL(
          "k BIGINT, v BIGINT"))
      }
      assert(e.getMessage.contains("refusing CREATE"), e.getMessage)
    } finally spark.sql("DROP TABLE IF EXISTS txddl")
  }

  test("SQL surface: CREATE TABLE USING, INSERT INTO/OVERWRITE, time-travel reads") {
    val t = table()
    TxLog.overwrite(Seq((1L, "a")).toDF("k", "v"), t)              // v1
    spark.sql(s"""CREATE TABLE txsql USING graft.sources.txlog
                 |OPTIONS (path '$t')""".stripMargin)
    try {
      assert(spark.table("txsql").as[(Long, String)].collect().toSet ===
        Set((1L, "a")))
      // INSERT INTO appends one atomic commit; the catalog's cached
      // relation (pinned at v1) must not keep serving the old snapshot
      spark.sql("INSERT INTO txsql VALUES (2, 'b')")               // v2
      assert(spark.table("txsql").as[(Long, String)].collect().toSet ===
        Set((1L, "a"), (2L, "b")))
      spark.sql("INSERT OVERWRITE txsql VALUES (9, 'z')")          // v3
      assert(spark.table("txsql").as[(Long, String)].collect().toSet ===
        Set((9L, "z")))
      // the overwritten history stays travelable (reader-option time
      // travel over the same path the SQL table fronts)
      assert(spark.read.format("graft.sources.txlog").option("path", t)
        .option("versionAsOf", "2").load()
        .as[(Long, String)].collect().toSet ===
        Set((1L, "a"), (2L, "b")))
    } finally spark.sql("DROP TABLE IF EXISTS txsql")
  }

  test("string-keyed merge never prunes a contested key (the '9' vs '100' trap)") {
    val t = table()
    // one file whose keys are '100' and '9': lexicographic bounds are
    // ('100', '9'); the pre-r11 stats path cast them through double to
    // the INVERTED range (100.0, 9.0), which excluded the incoming key
    // '100' — the file was wrongly pruned and the stale row survived
    TxLog.append(Seq(("100", "old", 1L), ("9", "x", 1L))
      .toDF("k", "v", "ver"), t, statsCols = Seq("k"))
    // string columns must no longer record numeric stats at all
    assert(TxLog.commits(t).flatMap(_.stats.values).forall(_.isEmpty))
    TxLog.merge(spark, t, Seq(("100", "new", 2L)).toDF("k", "v", "ver"),
      Seq("k"), "ver")
    assert(TxLog.read(spark, t).as[(String, String, Long)].collect().toSet
      === Set(("100", "new", 2L), ("9", "x", 1L)))
    // same trap through the CDC path: a delete on the contested key
    TxLog.applyChanges(spark, t,
      Seq(("100", null.asInstanceOf[String], 3L, "delete"))
        .toDF("k", "v", "ver", "op"), Seq("k"), "ver", "op")
    assert(TxLog.read(spark, t).as[(String, String, Long)].collect().toSet
      === Set(("9", "x", 1L)))
  }

  test("sstats prune string-keyed merges lexicographically; uncontested files stay in place") {
    val t = table()
    TxLog.append(Seq(("apple", "a", 1L), ("banana", "b", 1L))
      .toDF("k", "v", "ver").coalesce(1), t, statsCols = Seq("k"))
    TxLog.append(Seq(("melon", "m", 1L), ("zebra", "z", 1L))
      .toDF("k", "v", "ver").coalesce(1), t, statsCols = Seq("k"))
    // string bounds rode the commits as strings, and round-trip the JSON
    val perCommit = TxLog.commits(t).map(_.sstats)
    assert(perCommit.exists(_.values.exists(_.get("k")
      .contains(("apple", "banana")))))
    assert(perCommit.exists(_.values.exists(_.get("k")
      .contains(("melon", "zebra")))))
    val highFiles = TxLog.commits(t).filter(_.sstats.values.exists(
      _.get("k").contains(("melon", "zebra")))).flatMap(_.add).toSet
    // the batch contests only 'banana': the melon..zebra file's range
    // misses ['banana','banana'], so it must survive byte-identical
    TxLog.merge(spark, t, Seq(("banana", "B", 2L)).toDF("k", "v", "ver"),
      Seq("k"), "ver")
    val after = TxLog.activeFiles(t).toSet
    assert(highFiles.subsetOf(after), "uncontested file was rewritten")
    assert(TxLog.read(spark, t).as[(String, String, Long)].collect().toSet
      === Set(("apple", "a", 1L), ("banana", "B", 2L),
        ("melon", "m", 1L), ("zebra", "z", 1L)))
  }

  test("readStringRange prunes files by sstats and matches the full-scan filter") {
    val t = table()
    Seq(Seq("apple", "cherry"), Seq("fig", "mango"), Seq("peach", "zebra"))
      .foreach { ks =>
        TxLog.append(ks.map(k => (k, k.length.toLong)).toDF("k", "n")
          .coalesce(1), t, statsCols = Seq("k"))
      }
    val pruned = TxLog.filesForStringRange(t, "k", "fig", "grape")
    assert(pruned.nonEmpty && pruned.size < TxLog.activeFiles(t).size,
      s"sstats should prune: ${pruned.size} of ${TxLog.activeFiles(t).size}")
    assert(TxLog.readStringRange(spark, t, "k", "fig", "grape")
      .as[(String, Long)].collect().toSet === Set(("fig", 3L)))
    // a commit without string stats is conservative: always read
    TxLog.append(Seq(("gorilla", 7L)).toDF("k", "n"), t)
    assert(TxLog.readStringRange(spark, t, "k", "fig", "grape")
      .as[(String, Long)].collect().toSet ===
      Set(("fig", 3L), ("gorilla", 7L)))
    // skipping survives clustered compaction: OPTIMIZE clusterBy on the
    // string key re-records sstats on the compacted files (disjoint
    // lexicographic ranges), so the narrow read prunes back down
    import org.apache.spark.sql.functions.col
    TxLog.optimize(spark, t, targetFiles = 3,
      clusterBy = Seq(col("k")), statsCols = Seq("k"))
    val afterOpt = TxLog.filesForStringRange(t, "k", "fig", "grape")
    assert(afterOpt.size < TxLog.activeFiles(t).size,
      s"post-optimize sstats should prune: ${afterOpt.size} of ${TxLog.activeFiles(t).size}")
    assert(TxLog.readStringRange(spark, t, "k", "fig", "grape")
      .as[(String, Long)].collect().toSet ===
      Set(("fig", 3L), ("gorilla", 7L)))
  }

  test("timestamp columns record range stats and prune reads and merges") {
    import org.apache.spark.sql.functions.{col, lit, timestamp_micros}
    val t = table()
    // three files with disjoint hour ranges of event time
    (0 until 3).foreach { h =>
      TxLog.append(spark.range(0, 10).toDF("i")
        .select((col("i") + h * 10).alias("k"),
          timestamp_micros(col("i") * 1000000L + h * 3600000000L)
            .alias("ts"), lit(1L).alias("ver")).coalesce(1),
        t, statsCols = Seq("ts", "k"))
    }
    // time-range read prunes to the middle hour (bounds in epoch seconds,
    // the same cast the stats recorded)
    val pruned = TxLog.filesForRange(t, "ts", 3600.0, 3609.0)
    assert(pruned.size === 1, s"expected 1 file, got ${pruned.size}")
    assert(TxLog.readRange(spark, t, "ts", 3600.0, 3609.0).count() === 10)
    // a merge keyed on the timestamp prunes to the file holding the key
    val before = TxLog.activeFiles(t).toSet
    TxLog.merge(spark, t,
      Seq((99L, 3605000000L, 2L)).toDF("k", "ts", "ver")
        .select(col("k"), timestamp_micros(col("ts")).alias("ts"), col("ver")),
      Seq("ts"), "ver")
    val untouchedKept = TxLog.activeFiles(t).toSet.intersect(before)
    assert(untouchedKept.size === 2,
      s"timestamp-keyed merge should rewrite 1 of 3 files, kept $untouchedKept")
    assert(TxLog.read(spark, t).filter(col("k") === 99L).count() === 1)
    assert(TxLog.read(spark, t).count() === 30)
  }

  test("composite-key merge prunes conjunctively; null-keyed batches disable only that column") {
    import org.apache.spark.sql.functions.col
    val t = table()
    // 2x2 file grid over (region, k): each file owns one (region, k-range)
    for (r <- Seq("eu", "us"); base <- Seq(0L, 100L))
      TxLog.append((base until base + 10).map(k => (r, k, s"$r$k", 1L))
        .toDF("region", "k", "v", "ver").coalesce(1), t,
        statsCols = Seq("region", "k"))
    val before = TxLog.activeFiles(t).toSet
    // contest only (us, 105): string bound on region AND numeric bound on
    // k — conjunctive pruning must rewrite exactly ONE of four files
    TxLog.merge(spark, t,
      Seq(("us", 105L, "UPDATED", 2L)).toDF("region", "k", "v", "ver"),
      Seq("region", "k"), "ver")
    val kept = TxLog.activeFiles(t).toSet.intersect(before)
    assert(kept.size === 3,
      s"composite bounds should keep 3 of 4 files, kept ${kept.size}")
    val snap = TxLog.read(spark, t)
    assert(snap.count() === 40)
    assert(snap.filter(col("region") === "us" && col("k") === 105L)
      .select("v").as[String].head() === "UPDATED")
    // a null in ONE key column drops only that column's bound: k still
    // prunes to the two base-100 files; the stale-null hazard is dodged
    // because no existing row has a null region
    val before2 = TxLog.activeFiles(t).toSet
    TxLog.merge(spark, t,
      Seq((null.asInstanceOf[String], 101L, "x", 3L))
        .toDF("region", "k", "v", "ver"),
      Seq("region", "k"), "ver")
    val kept2 = TxLog.activeFiles(t).toSet.intersect(before2)
    assert(kept2.size >= 2, s"k-bound should still prune, kept ${kept2.size}")
    assert(TxLog.read(spark, t).count() === 41) // null-key row inserted
  }

  test("DV-filtered reads survive a user table with start/end columns") {
    import org.apache.spark.sql.functions.col
    val t = table()
    // columns named exactly like the DV range schema: the anti-join must
    // keep its bounds under reserved __dv_* names (pre-r11 this was an
    // ambiguous-column analysis error on every DV-filtered read)
    TxLog.append(spark.range(0, 100).select(col("id").alias("start"),
      (col("id") * 2).alias("end")), t)
    // one contiguous range (wide join path) plus one singleton (narrow)
    TxLog.deleteVectors(spark, t,
      col("start") < 10 || col("start") === 50)
    assert(TxLog.read(spark, t).as[(Long, Long)].collect().toSet ===
      (10L until 100L).filter(_ != 50L).map(k => (k, k * 2)).toSet)
  }

  test("replay guard keys on (streamId, batchId); legacy commits match any stream") {
    val t = table()
    TxLog.append(Seq((1L, "a", 1L)).toDF("k", "v", "ver"), t,
      batchId = 0L, streamId = Some("cp1"))
    assert(TxLog.batchCommitted(t, Some("cp1"), 0L)) // same query replays
    assert(!TxLog.batchCommitted(t, Some("cp2"), 0L)) // second query lands
    assert(!TxLog.batchCommitted(t, Some("cp1"), 1L))
    // a pre-r11 commit carries no streamId: treat as matching any stream
    // (replay idempotency for tables written before the field existed)
    TxLog.append(Seq((2L, "b", 1L)).toDF("k", "v", "ver"), t, batchId = 7L)
    assert(TxLog.batchCommitted(t, Some("cpX"), 7L))
    assert(TxLog.batchCommitted(t, None, 7L))
  }

  test("two streaming queries with distinct checkpoints both write the table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t = table()
    def run(data: Seq[Long], cp: String): Unit = {
      val in = MemoryStream[Long]
      in.addData(data: _*)
      in.toDF().select(col("value").alias("k"))
        .writeStream.format("graft.sources.txlog")
        .option("checkpointLocation", cp).option("path", t)
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    }
    run(Seq(1L, 2L), tmpDir("txsink_cp1"))
    // the second query also counts batches from 0 — with a batchId-only
    // guard its first batch was silently dropped as a "replay"
    run(Seq(10L, 20L), tmpDir("txsink_cp2"))
    assert(TxLog.read(spark, t).as[Long].collect().toSet ===
      Set(1L, 2L, 10L, 20L))
    assert(TxLog.commits(t).flatMap(_.streamId).distinct.size === 2)
  }

  test("clone carries CHECK constraints as-of the cloned version only") {
    import org.apache.spark.sql.functions.col
    val t = table()
    TxLog.append(spark.range(1, 50).toDF("k"), t)              // v1
    TxLog.addConstraint(spark, t, "k_pos", "k > 0")            // v2
    TxLog.append(spark.range(50, 60).toDF("k"), t)             // v3
    TxLog.addConstraint(spark, t, "k_small", "k < 1000")       // v4
    // shallow clone of v3: k_pos applies, the later k_small does not
    val c1 = table()
    TxLog.cloneTable(spark, t, c1, asOf = Some(3L))
    assert(TxLog.constraints(c1) === Map("k_pos" -> "k > 0"))
    intercept[IllegalArgumentException] {
      TxLog.append(Seq(-1L).toDF("k"), c1)
    }
    TxLog.append(Seq(5000L).toDF("k"), c1) // k_small never cloned
    // deep clone at latest: both constraints carry
    val c2 = table()
    TxLog.cloneTableDeep(spark, t, c2)
    assert(TxLog.constraints(c2) ===
      Map("k_pos" -> "k > 0", "k_small" -> "k < 1000"))
    intercept[IllegalArgumentException] {
      TxLog.append(Seq(5000L).toDF("k"), c2)
    }
  }

  // Write-write conflict matrix: pairwise concurrent {merge, dvDelete,
  // optimizeSmall, copyOnWrite-update} interleavings. The optimistic
  // commit loop makes the loser of a version race re-derive against the
  // winner's snapshot, so whatever order the pair lands in, the final
  // table must show BOTH effects — no lost updates, no resurrected rows,
  // no duplicates. Concurrency makes real races likely; the invariants
  // hold under every interleaving including the serialized ones.
  private def concurrently(a: => Long, b: => Long): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val (fa, fb) = (Future(a), Future(b))
    Await.result(fa, 120.seconds); Await.result(fb, 120.seconds)
  }

  private def kvTable(): String = {
    import org.apache.spark.sql.functions.lit
    val t = table()
    TxLog.append(spark.range(0, 100).toDF("k")
      .withColumn("v", lit(0L)).withColumn("ver", lit(1L))
      .repartition(4), t, statsCols = Seq("k"))
    t
  }

  private def upd(keys: Range, v: Long) = {
    import org.apache.spark.sql.functions.lit
    spark.createDataFrame(keys.map(k => (k.toLong, v, 2L)))
      .toDF("k", "v", "ver")
  }

  private def snapshot(t: String): Map[Long, Long] =
    TxLog.read(spark, t).select("k", "v").as[(Long, Long)]
      .collect().groupBy(_._1).map { case (k, rows) =>
        assert(rows.length === 1, s"duplicate rows for key $k")
        k -> rows.head._2
      }

  test("conflict matrix: merge x merge on disjoint keys — both land") {
    val t = kvTable()
    concurrently(
      TxLog.merge(spark, t, upd(0 until 10, 1L), Seq("k"), "ver"),
      TxLog.merge(spark, t, upd(50 until 60, 2L), Seq("k"), "ver"))
    val snap = snapshot(t)
    assert(snap.size === 100)
    assert((0 until 10).forall(k => snap(k) === 1L), "merge A lost")
    assert((50 until 60).forall(k => snap(k) === 2L), "merge B lost")
    assert(snap.count(_._2 == 0L) === 80)
    // the two merges committed distinct versions (no silent overwrite)
    assert(TxLog.commits(t).count(_.op == "merge") === 2)
  }

  test("conflict matrix: merge x dvDelete — update lands, deleted rows stay dead") {
    import org.apache.spark.sql.functions.col
    val t = kvTable()
    concurrently(
      TxLog.merge(spark, t, upd(50 until 60, 2L), Seq("k"), "ver"),
      TxLog.deleteVectors(spark, t, col("k") < 10))
    val snap = snapshot(t)
    assert(snap.size === 90, s"expected 90 live keys, got ${snap.size}")
    assert((0 until 10).forall(k => !snap.contains(k)), "deleted rows resurrected")
    assert((50 until 60).forall(k => snap(k) === 2L), "merge lost to dvDelete")
  }

  test("conflict matrix: merge x optimizeSmall — compaction never undoes the merge") {
    val t = kvTable()
    concurrently(
      TxLog.merge(spark, t, upd(10 until 30, 3L), Seq("k"), "ver"),
      TxLog.optimizeSmall(spark, t, minFileSizeBytes = 1 << 30).getOrElse(-1L))
    val snap = snapshot(t)
    assert(snap.size === 100)
    assert((10 until 30).forall(k => snap(k) === 3L), "merge lost to compaction")
    assert(snap.count(_._2 == 0L) === 80)
  }

  test("conflict matrix: dvDelete x optimizeSmall — deletes survive the rewrite") {
    import org.apache.spark.sql.functions.col
    val t = kvTable()
    concurrently(
      TxLog.deleteVectors(spark, t, col("k") >= 90),
      TxLog.optimizeSmall(spark, t, minFileSizeBytes = 1 << 30).getOrElse(-1L))
    val snap = snapshot(t)
    assert(snap.size === 90)
    assert((90 until 100).forall(k => !snap.contains(k)), "deleted rows resurrected by compaction")
  }

  test("conflict matrix: copyOnWrite update x merge on disjoint predicates") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = kvTable()
    concurrently(
      TxLog.update(spark, t, col("k") < 10, Map("v" -> lit(7L))),
      TxLog.merge(spark, t, upd(50 until 60, 2L), Seq("k"), "ver"))
    val snap = snapshot(t)
    assert(snap.size === 100)
    assert((0 until 10).forall(k => snap(k) === 7L), "UPDATE lost")
    assert((50 until 60).forall(k => snap(k) === 2L), "merge lost")
    assert(snap.count(_._2 == 0L) === 80)
  }

  test("utf8Cmp orders by UTF-8 bytes, matching Spark's string min/max collation") {
    assert(TxLog.utf8Cmp("100", "9") < 0) // lexicographic, NOT numeric
    assert(TxLog.utf8Cmp("apple", "apple") === 0)
    assert(TxLog.utf8Cmp("app", "apple") < 0)
    // supplementary character: U+10000 is F0 90 80 80 in UTF-8 (> U+FFFF's
    // EF BF BF) but D800 DC00 in UTF-16 (< FFFF) — String.compareTo gets
    // this backwards relative to Spark's UTF8String binary order
    val supp = new String(Character.toChars(0x10000))
    assert(TxLog.utf8Cmp(supp, "￿") > 0)
    assert(supp.compareTo("￿") < 0, "if this flips, revisit the doc")
    // and Spark's own max() agrees with utf8Cmp on that pair
    val mx = Seq(supp, "￿").toDF("s")
      .agg(org.apache.spark.sql.functions.max("s")).head().getString(0)
    assert(mx === supp)
  }

  test("metadata-plane ceiling: reads past maxActiveFiles fail loudly naming the remedies") {
    val t = table()
    // 5 single-file appends → 5 active files
    (1 to 5).foreach(i => TxLog.append(
      Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1), t))
    assert(TxLog.activeFiles(t).size === 5)
    val prop = "graft.txlog.maxActiveFiles"
    try {
      sys.props(prop) = "4"
      val e = intercept[IllegalStateException](TxLog.read(spark, t).count())
      assert(e.getMessage.contains("optimizeSmall"))
      assert(e.getMessage.contains("compact"))
      assert(e.getMessage.contains(prop))
      // compacting the trickle is the named remedy — and it works: after
      // optimizeSmall the table is under the ceiling and readable again
      sys.props(prop) = "" + Int.MaxValue
      TxLog.optimizeSmall(spark, t, minFileSizeBytes = Long.MaxValue)
      sys.props(prop) = "4"
      assert(TxLog.read(spark, t).count() === 5L)
    } finally sys.props -= prop
  }

  test("malformed graft.vacuum.retainVersions fails vacuum with a diagnostic naming the property") {
    val t = table()
    TxLog.overwrite(Seq((1L, "a")).toDF("k", "v"), t)
    TxLog.setProperties(t, Map("graft.vacuum.retainVersions" -> "30d"))
    val e = intercept[IllegalArgumentException](TxLog.vacuum(t))
    assert(e.getMessage.contains("graft.vacuum.retainVersions"))
    assert(e.getMessage.contains("30d"))
    // correcting the property un-bricks vacuum
    TxLog.setProperties(t, Map("graft.vacuum.retainVersions" -> "1"))
    TxLog.vacuum(t) // no throw
  }

  test("vacuum-vs-reader contract: in-floor versions survive, out-of-floor reads fail loudly") {
    val t = table()
    TxLog.overwrite(Seq((1L, "a")).toDF("k", "v"), t)              // v1
    TxLog.overwrite(Seq((2L, "b")).toDF("k", "v"), t)              // v2
    TxLog.overwrite(Seq((3L, "c")).toDF("k", "v"), t)              // v3
    TxLog.append(Seq((4L, "d")).toDF("k", "v"), t)                 // v4
    // declared floor 3: even a caller asking for retainVersions=1 may
    // not vacuum past versions {2,3,4} — the table-level guard rail
    TxLog.setProperties(t, Map("graft.vacuum.retainVersions" -> "3")) // v5
    TxLog.vacuum(t, retainVersions = 1)
    // IN-FLOOR: v3 (= head-2, inside the declared floor of 3 versions)
    // still reads — its files were protected by the horizon
    assert(TxLog.read(spark, t, Some(3L)).as[(Long, String)]
      .collect().toSet === Set((3L, "c")))
    // OUT-OF-FLOOR: v1's only data file was overwritten at v2 and sits
    // past the horizon — the contract is a LOUD failure at read time
    // (the log still has the commit; the files are gone), never a
    // silent partial result
    val e = intercept[Throwable](
      TxLog.read(spark, t, Some(1L)).collect())
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.toLowerCase.contains("path does not exist") ||
      msg.toLowerCase.contains("no such file") ||
      msg.toLowerCase.contains("unable to infer") ||
      msg.toLowerCase.contains("file not found") ||
      e.isInstanceOf[java.io.FileNotFoundException],
      s"expected a loud missing-file failure, got: $e")
  }

  test("full optimize rewrites a one-file table with an active DV and retires the DV") {
    import org.apache.spark.sql.functions.col
    val t = table()
    TxLog.overwrite(spark.range(0, 100).toDF("k").coalesce(1), t)  // v1
    TxLog.deleteVectors(spark, t, col("k") < 10)                   // v2
    val before = TxLog.activeFiles(t)
    assert(before.size === 1 && TxLog.activeDvs(t).nonEmpty)
    // full OPTIMIZE has no two-file rule: the lone file still rewrites,
    // the deletes materialize and the DV retires with the commit
    assert(TxLog.optimize(spark, t) === 3L)
    val last = TxLog.commits(t).last
    assert(last.op === "optimize" && last.remove === before)
    assert(TxLog.activeFiles(t).size === 1 && TxLog.activeFiles(t) != before)
    assert(TxLog.activeDvs(t).isEmpty)
    assert(TxLog.read(spark, t).as[Long].collect().toSet ===
      (10L until 100L).toSet)
  }

  test("optimize refuses a non-positive targetBytes like the partial compactions") {
    val t = table()
    TxLog.overwrite(spark.range(0, 100).toDF("k").repartition(2), t)
    val e = intercept[IllegalArgumentException](
      TxLog.optimize(spark, t, targetBytes = Some(0L)))
    assert(e.getMessage.contains("targetBytes must be positive"))
    assert(TxLog.latestVersion(t) === Some(1L), "a refused optimize commits nothing")
  }

  test("full optimize on a table with no active file commits nothing") {
    val t = table()
    TxLog.createTable(t, Seq((1L, "a")).toDF("k", "v").schema)    // v1, no files
    assert(TxLog.optimize(spark, t) === 1L)
    assert(TxLog.latestVersion(t) === Some(1L) && TxLog.activeFiles(t).isEmpty)
  }
}
