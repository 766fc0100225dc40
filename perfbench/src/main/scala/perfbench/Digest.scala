package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{SpecializedGetters, XXH64}
import org.apache.spark.sql.types._

/** Order-independent content digest of a result: row count plus the sum and
  * the xor of a 64-bit hash of each row.
  */
final case class Digest(rows: Long, sum: Long, xor: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum, xor ^ o.xor)
  def add(h: Long): Digest = Digest(rows + 1, sum + h, xor ^ h)
}

object Digest {
  val Empty: Digest = Digest(0L, 0L, 0L)

  /** Consumes every row of `df` executor-side (as `graft.Bench` does), so
    * each column is decoded and built; only the digest reaches the driver.
    */
  def of(df: DataFrame): Digest = {
    val hash = RowHash(df.schema)
    df.queryExecution.toRdd.mapPartitions { it =>
      var d = Empty
      while (it.hasNext) d = d.add(hash(it.next()))
      Iterator(d)
    }.collect().foldLeft(Empty)(_ + _)
  }
}

/** Value hash of a row against its schema. Map entries combine
  * commutatively, so two rows that hold the same map in a different entry
  * order hash alike (readers and generators need not agree on tag order).
  */
object RowHash {
  private type H = (SpecializedGetters, Int) => Long
  private val NullH = 0x6a09e667f3bcc908L

  def apply(schema: StructType): InternalRow => Long = {
    val s = struct(schema)
    row => s(row)
  }

  private def struct(st: StructType): SpecializedGetters => Long = {
    val fs = st.fields.map(f => field(f.dataType))
    g => {
      var h = 0x3c6ef372fe94f82bL
      var i = 0
      while (i < fs.length) {
        h = Gen.mix64(h * 31 + (if (g.isNullAt(i)) NullH else fs(i)(g, i)))
        i += 1
      }
      h
    }
  }

  private def field(dt: DataType): H = dt match {
    case IntegerType => (g, i) => Gen.mix64(g.getInt(i).toLong + 1)
    case LongType => (g, i) => Gen.mix64(g.getLong(i) + 2)
    case DoubleType => (g, i) => Gen.mix64(java.lang.Double.doubleToLongBits(g.getDouble(i)) + 3)
    case BooleanType => (g, i) => if (g.getBoolean(i)) 5L else 7L
    case StringType => (g, i) => {
      val s = g.getUTF8String(i)
      XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 0x5eedL)
    }
    case ArrayType(et, _) =>
      val eh = field(et)
      (g, i) => {
        val a = g.getArray(i)
        var h = a.numElements().toLong
        var j = 0
        while (j < a.numElements()) {
          h = Gen.mix64(h * 31 + (if (a.isNullAt(j)) NullH else eh(a, j)))
          j += 1
        }
        h
      }
    case MapType(kt, vt, _) =>
      val kh = field(kt); val vh = field(vt)
      (g, i) => {
        val m = g.getMap(i)
        val ks = m.keyArray(); val vs = m.valueArray()
        var h = m.numElements().toLong
        var j = 0
        while (j < m.numElements()) {
          h += Gen.mix64(kh(ks, j) * 0x9E3779B97F4A7C15L + (if (vs.isNullAt(j)) NullH else vh(vs, j)))
          j += 1
        }
        Gen.mix64(h)
      }
    case st: StructType =>
      val sh = struct(st)
      (g, i) => sh(g.getStruct(i, st.length))
    case other => throw new IllegalArgumentException(s"no row hash for $other")
  }
}
