package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import Stats.Digest

/** Order-insensitive digests of query results, computed inside the tasks
  * that produce the rows. Doubles are rounded to 9 significant digits and
  * array and map elements are hashed as multisets, so the digest does not
  * depend on partitioning or on the order a collect gathered elements in. */
object RowDigest {

  private val NullHash = 0x6b43a9b5

  def fieldHash(v: Any, dt: DataType): Int = if (v == null) NullHash else dt match {
    case DoubleType => doubleHash(v.asInstanceOf[Double])
    case FloatType => doubleHash(v.asInstanceOf[Float].toDouble)
    case _: StringType => v.asInstanceOf[UTF8String].hashCode()
    case BinaryType => MurmurHash3.bytesHash(v.asInstanceOf[Array[Byte]])
    case d: DecimalType =>
      v.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal.stripTrailingZeros().hashCode
    case st: StructType => rowFieldsHash(v.asInstanceOf[InternalRow], st)
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      var sum = 0L
      var i = 0
      while (i < a.numElements()) { sum += mix(fieldHash(a.get(i, et), et)); i += 1 }
      MurmurHash3.finalizeHash(MurmurHash3.mix(sum.toInt, (sum >>> 32).toInt), a.numElements())
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      val ks = m.keyArray(); val vs = m.valueArray()
      var sum = 0L
      var i = 0
      while (i < m.numElements()) {
        sum += mix(MurmurHash3.mix(fieldHash(ks.get(i, kt), kt), fieldHash(vs.get(i, vt), vt)))
        i += 1
      }
      MurmurHash3.finalizeHash(MurmurHash3.mix(sum.toInt, (sum >>> 32).toInt), m.numElements())
    case _ => v.hashCode()
  }

  private def mix(h: Int): Long = {
    var x = h.toLong * 0x9e3779b97f4a7c15L
    x ^= x >>> 29
    x
  }

  private def doubleHash(d: Double): Int = {
    val r = Stats.roundSig(d)
    java.lang.Long.hashCode(java.lang.Double.doubleToLongBits(if (r == 0.0) 0.0 else r))
  }

  private def rowFieldsHash(r: InternalRow, st: StructType): Int = {
    val fs = st.fields
    val hs = new Array[Int](fs.length)
    var i = 0
    while (i < fs.length) { hs(i) = fieldHash(r.get(i, fs(i).dataType), fs(i).dataType); i += 1 }
    MurmurHash3.arrayHash(hs)
  }

  def rowHash(r: InternalRow, st: StructType): Long = {
    val fs = st.fields
    val hs = new Array[Int](fs.length)
    var i = 0
    while (i < fs.length) { hs(i) = fieldHash(r.get(i, fs(i).dataType), fs(i).dataType); i += 1 }
    Stats.rowHash(hs)
  }

  /** Runs the frame's own executed plan, every output column included, and
    * returns the digest of its rows. This is the action the gate timings
    * measure: unlike `count()`, it lets Catalyst prune nothing. */
  def execute(df: DataFrame): Digest = {
    val qe = df.queryExecution
    val schema = df.schema
    SQLExecution.withNewExecutionId(qe, Some("perfbench digest")) {
      qe.executedPlan.execute().mapPartitions { it =>
        var d = Stats.EmptyDigest
        it.foreach(r => d = d.add(rowHash(r, schema)))
        Iterator.single(d)
      }.collect().foldLeft(Stats.EmptyDigest)(_ + _)
    }
  }
}
