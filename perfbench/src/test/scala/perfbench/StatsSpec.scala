package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import Stats.Span

class StatsSpec extends AnyFunSuite {

  test("median picks the middle value, or the mean of the two middle ones") {
    assert(Stats.median(Seq(5.0)) == 5.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(9.0, 1.0, 1.0, 1.0, 100.0)) == 1.0)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("self time is the duration minus the union of direct children") {
    val spans = IndexedSeq(
      Span("etl.campus", -1, 0L, 100L),
      Span("extract.tall", 0, 10L, 40L),
      Span("clean.pre_dedup", 0, 40L, 70L),
      Span("clean.inner", 2, 45L, 65L))
    val self = Stats.selfSeconds(spans)
    assert(self(0) == 40 / 1e9)
    assert(self(1) == 30 / 1e9)
    assert(self(2) == 10 / 1e9)
    assert(self(3) == 20 / 1e9)
    // The root's self time plus its children's walls is the root's wall.
    assert(self(0) + spans(1).seconds + spans(2).seconds == spans(0).seconds)
  }

  test("overlapping children are counted once, and clipped to the parent") {
    val spans = IndexedSeq(
      Span("gate.pass", -1, 0L, 100L),
      Span("a", 0, 10L, 50L),
      Span("b", 0, 30L, 60L),
      Span("c", 0, 90L, 130L))
    assert(Stats.selfSeconds(spans)(0) == 40 / 1e9)
  }

  test("digest ignores row order and partitioning, but not multiplicity") {
    val rows = (1 to 50).map(i => Stats.rowHash(Array(i, i * 7, -i)))
    val one = rows.foldLeft(Stats.EmptyDigest)(_ add _)
    val shuffled = scala.util.Random.shuffle(rows).foldLeft(Stats.EmptyDigest)(_ add _)
    val parts = rows.grouped(7).map(_.foldLeft(Stats.EmptyDigest)(_ add _)).reduce(_ + _)
    assert(one == shuffled)
    assert(one == parts)
    assert(one.toString == parts.toString)
    assert(one.add(rows.head) != one)
    assert(Stats.rowHash(Array(1, 2)) != Stats.rowHash(Array(2, 1)))
  }

  test("doubles are rounded to 9 significant digits before hashing") {
    assert(Stats.roundSig(0.1 + 0.2) == Stats.roundSig(0.3))
    assert(Stats.roundSig(123456.78901234) == 123456.789)
    assert(Stats.roundSig(-2.5e-12) == -2.5e-12)
    assert(Stats.roundSig(0.0) == 0.0)
    assert(Stats.roundSig(1.0) != Stats.roundSig(1.00001))
  }

  test("write and read amplification divide written bytes by input bytes") {
    val dir = Files.createTempDirectory("perfbench-amp").toFile
    try {
      val raw = new java.io.File(dir, "raw"); raw.mkdirs()
      Files.write(new java.io.File(raw, "a.csv").toPath, Array.fill[Byte](400)(1))
      val out = new java.io.File(dir, "out/x"); out.mkdirs()
      Files.write(new java.io.File(out, "part-0").toPath, Array.fill[Byte](700)(1))
      Files.write(new java.io.File(out, "part-1").toPath, Array.fill[Byte](300)(1))
      val rawBytes = Stats.treeBytes(raw)
      assert(rawBytes == 400)
      assert(Stats.treeBytes(dir) == 1400)
      assert(Stats.treeFiles(dir) == 3)
      assert(Etl.bytesWritten(dir, rawBytes) == 1000)
      assert(Stats.amplification(Etl.bytesWritten(dir, rawBytes), rawBytes) == 2.5)
      assert(Stats.amplification(200, rawBytes) == 0.5)
      assertThrows[IllegalArgumentException](Stats.amplification(1, 0))
    } finally {
      def rm(f: java.io.File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete() }
      rm(dir)
    }
  }

  test("campus seconds stretch sequential campuses to the next start") {
    val seq = Seq((1000L, 1800L), (2000L, 2500L), (2600L, 3000L))
    assert(Etl.campusSeconds(seq, 3400L) == Seq(1.0, 0.6, 0.8))
    val overlapping = Seq((1000L, 1800L), (1500L, 2500L))
    assert(Etl.campusSeconds(overlapping, 3000L) == Seq(0.8, 1.0))
  }
}
