package graft

import graft.ops.TxLog

/** The keyed latest-per-key fold behind [[TxLog.merge]] and
  * [[TxLog.applyChanges]]: both verbs share one validation rule and one
  * fresh-path behaviour. */
class KeyedFoldSpec extends SparkSpec {
  import spark.implicits._

  test("applyChanges refuses a CHECK-violating upsert even when it loses on version") {
    val t = tmpDir("keyedfold") + "/t"
    TxLog.append(Seq((1L, 10L, 5L), (2L, 20L, 5L)).toDF("k", "qty", "ver"), t)
    TxLog.addConstraint(spark, t, "qty_pos", "qty > 0")
    val vBefore = TxLog.latestVersion(t)
    // k=2's violating upsert is older than the stored row, so it would
    // lose the fold — the write still refuses, as merge does
    val e = intercept[IllegalArgumentException] {
      TxLog.applyChanges(spark, t,
        Seq((2L, 0L, 1L, "upsert"), (1L, 11L, 6L, "upsert"))
          .toDF("k", "qty", "ver", "op"), Seq("k"), "ver", "op")
    }
    assert(e.getMessage.contains("CHECK constraint 'qty_pos'"), e.toString)
    assert(TxLog.latestVersion(t) === vBefore)
    // a delete marker's null business columns are not checked
    TxLog.applyChanges(spark, t,
      Seq((2L, Option.empty[Long], 6L, "delete"))
        .toDF("k", "qty", "ver", "op"),
      Seq("k"), "ver", "op")
    assert(TxLog.read(spark, t).as[(Long, Long, Long)].collect().toSet ===
      Set((1L, 10L, 5L)))
  }

  test("applyChanges into a path with no log commits version 1 with the winning upserts") {
    val t = tmpDir("keyedfold") + "/fresh"
    val v = TxLog.applyChanges(spark, t,
      Seq((1L, "a", 1L, "upsert"), (1L, "A", 2L, "upsert"),
        (2L, "b", 1L, "upsert"), (2L, "b", 2L, "delete"),
        (3L, "c", 1L, "delete"))
        .toDF("k", "v", "ver", "op"), Seq("k"), "ver", "op")
    assert(v === 1L)
    assert(TxLog.latestVersion(t) === Some(1L))
    assert(TxLog.read(spark, t).as[(Long, String, Long)].collect().toSet ===
      Set((1L, "A", 2L)))
    // the op column is a feed column, not a table column
    assert(TxLog.schemaAsOf(t).get.fieldNames.toSeq === Seq("k", "v", "ver"))
  }
}
