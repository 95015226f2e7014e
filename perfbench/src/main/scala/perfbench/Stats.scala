package perfbench

/** Pure metric arithmetic shared by the workloads: no Spark, no I/O, so the
  * self-tests cover it directly. */
object Stats {

  /** Median; for an even count the mean of the two middle values. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** A timed interval. `parent` is the index of the enclosing span in the
    * same trace, or -1 for a root. */
  final case class Span(name: String, parent: Int, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** Self time of every span: its duration minus the union of its direct
    * children's intervals, clipped to the span. Children that overlap each
    * other are counted once. */
  def selfSeconds(spans: IndexedSeq[Span]): IndexedSeq[Double] = {
    val kids = spans.indices.groupBy(i => spans(i).parent)
    spans.indices.map { i =>
      val sp = spans(i)
      val ivs = kids.getOrElse(i, Nil).map(spans(_))
        .map(c => (math.max(c.startNs, sp.startNs), math.min(c.endNs, sp.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      (sp.endNs - sp.startNs - covered) / 1e9
    }
  }

  /** Bytes written per byte of input. */
  def amplification(bytesOut: Long, bytesIn: Long): Double = {
    require(bytesIn > 0, "amplification needs a positive input size")
    bytesOut.toDouble / bytesIn
  }

  /** Total size of the regular files under `root` (0 when absent). */
  def treeBytes(root: java.io.File): Long =
    if (root.isFile) root.length()
    else Option(root.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)

  /** Number of regular files under `root`. */
  def treeFiles(root: java.io.File): Long =
    if (root.isFile) 1L
    else Option(root.listFiles()).map(_.map(treeFiles).sum).getOrElse(0L)

  /** Order-insensitive digest of a multiset of 64-bit row hashes: the row
    * count and the wrapping sum. Equal multisets give equal digests in any
    * order and under any partitioning. */
  final case class Digest(rows: Long, sum: Long) {
    def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
    def add(h: Long): Digest = Digest(rows + 1, sum + h)
    override def toString: String = f"$rows:$sum%016x"
  }
  val EmptyDigest: Digest = Digest(0L, 0L)

  /** 64-bit mix of field hashes (two MurmurHash3 lanes). */
  def rowHash(fields: Array[Int]): Long = {
    import scala.util.hashing.MurmurHash3
    val a = MurmurHash3.arrayHash(fields, 0x3c6ef372)
    val b = MurmurHash3.arrayHash(fields, 0x5be0cd19)
    (a.toLong << 32) | (b.toLong & 0xffffffffL)
  }

  /** A double rounded to 9 significant digits, so a digest does not depend
    * on the summation order of a floating-point aggregate. */
  def roundSig(v: Double): Double =
    if (v == 0.0 || v.isNaN || v.isInfinite) v
    else {
      val scale = math.pow(10, 8 - math.floor(math.log10(math.abs(v))))
      math.rint(v * scale) / scale
    }
}
