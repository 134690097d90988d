package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.DvBitmapCodec

/** Codec-level contract of the roaring-style deletion bitset
  * (DvBitmap.scala): round-trips, probes, cardinality, container-kind
  * selection, run containers, union, and the 64 Ki-row container
  * boundary — pure byte-level tests, no Spark. The storage-tier
  * integration (legacy sidecar shapes, mixed snapshots, protocol stamp)
  * lives in TxLogSpec. */
class DvBitmapSpec extends AnyFunSuite {

  private def bits(ranges: (Long, Long)*): Array[Byte] =
    DvBitmapCodec.fromRanges(ranges)

  test("round-trip: ranges -> bytes -> ranges, probes and cardinality exact") {
    val ranges = Seq((0L, 0L), (5L, 9L), (100L, 100L), (70000L, 70005L))
    val bm = bits(ranges: _*)
    assert(DvBitmapCodec.toRanges(bm) === ranges)
    assert(DvBitmapCodec.cardinality(bm) === 1 + 5 + 1 + 6)
    val set = ranges.flatMap { case (s, e) => s to e }.toSet
    (0L to 70010L).foreach { ri =>
      assert(DvBitmapCodec.contains(bm, ri) === set.contains(ri), s"ri=$ri")
    }
    assert(!DvBitmapCodec.contains(bm, -1L))
    assert(!DvBitmapCodec.contains(bm, Long.MaxValue))
  }

  test("container boundary: 65535 and 65536 land in different containers") {
    val bm = bits((65534L, 65537L))
    assert(DvBitmapCodec.cardinality(bm) === 4)
    Seq(65534L, 65535L, 65536L, 65537L).foreach(ri =>
      assert(DvBitmapCodec.contains(bm, ri), s"ri=$ri"))
    assert(!DvBitmapCodec.contains(bm, 65533L))
    assert(!DvBitmapCodec.contains(bm, 65538L))
    // the run decodes back as ONE range even across the container split
    assert(DvBitmapCodec.toRanges(bm) === Seq((65534L, 65537L)))
  }

  test("kind selection: sparse stays ~2 bytes/row, dense is a fixed 8 KiB block") {
    // 1000 scattered rows in one container -> sorted-array kind
    val sparse = DvBitmapCodec.fromRanges((0 until 1000).map(i =>
      (i * 60L, i * 60L)))
    assert(sparse.length === 4 + 13 + 2 * 1000, s"sparse ${sparse.length}")
    // every other row of a full container (32768 > 4096) -> bitmap kind
    val dense = DvBitmapCodec.fromRanges((0 until 32768).map(i =>
      (i * 2L, i * 2L)))
    assert(dense.length === 4 + 13 + 8192, s"dense ${dense.length}")
    assert(DvBitmapCodec.cardinality(dense) === 32768)
    assert(DvBitmapCodec.contains(dense, 2L) && !DvBitmapCodec.contains(dense, 3L))
    // the degenerate range-list equivalent of `dense` is 32768 rows x 3
    // longs — the bitset bounds it two orders of magnitude lower
    assert(dense.length < 32768 * 24 / 90)
  }

  test("large row indices: container keys carry the high bits") {
    val base = 1L << 33
    val bm = bits((base, base + 2L), (base + 100000L, base + 100000L))
    assert(DvBitmapCodec.cardinality(bm) === 4)
    assert(DvBitmapCodec.contains(bm, base + 1L))
    assert(!DvBitmapCodec.contains(bm, base + 3L))
    assert(DvBitmapCodec.contains(bm, base + 100000L))
    assert(!DvBitmapCodec.contains(bm, 1L)) // same low bits, wrong container
    assert(DvBitmapCodec.toRanges(bm) ===
      Seq((base, base + 2L), (base + 100000L, base + 100000L)))
  }

  /** Container kind of the `i`-th container (header byte after the key). */
  private def kindAt(bm: Array[Byte], i: Int): Int = {
    val bb = java.nio.ByteBuffer.wrap(bm)
    var off = 4
    (0 until i).foreach { _ =>
      val payload = bb.get(off + 8) match {
        case 0 => 2 * bb.getInt(off + 9)
        case 1 => 8192
        case _ => 2 + 4 * (bb.getShort(off + 13) & 0xFFFF)
      }
      off += 13 + payload
    }
    bb.get(off + 8).toInt
  }

  private def assertExact(bm: Array[Byte], ranges: Seq[(Long, Long)],
      upTo: Long): Unit = {
    val set = ranges.flatMap { case (s, e) => s to e }.toSet
    val parsed = new DvBitmapCodec.Parsed(bm)
    (0L to upTo).foreach(ri =>
      assert(parsed.contains(ri) === set.contains(ri), s"ri=$ri"))
  }

  test("run containers: one run, many runs, and runs across the 64 Ki boundary round-trip") {
    val one = bits((100L, 40000L))
    assert(kindAt(one, 0) === 2)
    assert(one.length === 4 + 13 + 2 + 4)
    assert(DvBitmapCodec.toRanges(one) === Seq((100L, 40000L)))
    assert(DvBitmapCodec.cardinality(one) === 39901L)
    assertExact(one, Seq((100L, 40000L)), 40100L)
    // 300 runs of 50 rows, gaps of 10: runs beat the 15 000-entry array
    val many = (0 until 300).map(i => (i * 60L, i * 60L + 49))
    val bmMany = DvBitmapCodec.fromRanges(many)
    assert(kindAt(bmMany, 0) === 2)
    assert(bmMany.length === 4 + 13 + 2 + 4 * 300)
    assert(DvBitmapCodec.toRanges(bmMany) === many)
    assert(DvBitmapCodec.cardinality(bmMany) === 300L * 50)
    assertExact(bmMany, many, 18100L)
    // a run crossing 65 535/65 536 splits into two run containers and
    // decodes back as ONE range
    val across = Seq((60000L, 70000L), (131070L, 131075L))
    val bmAcross = DvBitmapCodec.fromRanges(across)
    assert(kindAt(bmAcross, 0) === 2 && kindAt(bmAcross, 1) === 2)
    assert(DvBitmapCodec.toRanges(bmAcross) === across)
    assert(DvBitmapCodec.cardinality(bmAcross) === 10001L + 6L)
    assertExact(bmAcross, across, 131100L)
  }

  test("one bitmap mixes all three kinds; contains at every run edge") {
    // container 0: 20 isolated rows (array); container 1: every other
    // row (bitmap); container 2: three runs
    val sparse = (0 until 20).map(i => (i * 1000L, i * 1000L))
    val dense = (0 until 32768).map(i => (65536L + 2 * i, 65536L + 2 * i))
    val runs = Seq((131072L + 10, 131072L + 500), (131072L + 1000, 131072L + 1000),
      (131072L + 60000, 131072L + 65535))
    val bm = DvBitmapCodec.fromRanges(sparse ++ dense ++ runs)
    assert((0 until 3).map(kindAt(bm, _)) === Seq(0, 1, 2))
    assert(DvBitmapCodec.cardinality(bm) ===
      20L + 32768L + runs.map { case (s, e) => e - s + 1 }.sum)
    assert(DvBitmapCodec.toRanges(bm) === sparse ++ dense ++ runs)
    assertExact(bm, sparse ++ dense ++ runs, 3L * 65536 + 10)
    val parsed = new DvBitmapCodec.Parsed(bm)
    runs.foreach { case (s, e) =>
      assert(parsed.contains(s) && parsed.contains(e), s"run [$s, $e]")
      assert(!parsed.contains(s - 1) && !parsed.contains(e + 1),
        s"one past run [$s, $e]")
    }
  }

  test("union of two overlapping bitmaps is their bitwise OR") {
    val a = Seq((0L, 99L), (1000L, 1000L), (70000L, 70010L))
    val b = Seq((50L, 149L), (999L, 1001L), (65530L, 70000L))
    val u = DvBitmapCodec.union(Seq(DvBitmapCodec.fromRanges(a),
      DvBitmapCodec.fromRanges(b)))
    val want = Seq((0L, 149L), (999L, 1001L), (65530L, 70010L))
    assert(DvBitmapCodec.toRanges(u) === want)
    assert(DvBitmapCodec.cardinality(u) === 150L + 3L + 4481L)
    assertExact(u, want, 70100L)
    val single = DvBitmapCodec.fromRanges(a)
    assert(DvBitmapCodec.union(Seq(single)) eq single)
  }

  test("a 50% contiguous delete of a 100 000-row file encodes under 100 bytes") {
    val bm = bits((0L, 49999L))
    assert(bm.length < 100, s"${bm.length} bytes")
    assert(DvBitmapCodec.cardinality(bm) === 50000L)
    assert(DvBitmapCodec.contains(bm, 49999L) && !DvBitmapCodec.contains(bm, 50000L))
  }
}
