package graft.perfbench

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Order-insensitive summary of a query's output rows.
  *
  * `hash` sums a 64-bit hash of every row's non-float content, so it does
  * not depend on row order but does on row multiplicity. Float values
  * (top-level or nested) are left out of the hash and summed per top-level
  * column instead, as a signed sum and an absolute sum; two outputs agree
  * when each signed sum differs by at most `Fingerprint.RelTol` of the
  * larger absolute sum (floored at one per row, the per-value floor the
  * DuckDB self-check uses). */
final case class Fingerprint(rows: Long, hash: Long, sums: Vector[Double], abs: Vector[Double]) {
  def merge(o: Fingerprint): Fingerprint = Fingerprint(rows + o.rows, hash + o.hash,
    sums.zip(o.sums).map { case (a, b) => a + b }, abs.zip(o.abs).map { case (a, b) => a + b })

  /** None when `got` matches this expected value, else the reason. */
  def mismatch(got: Fingerprint, rowsOnly: Boolean): Option[String] =
    if (got.rows != rows) Some(s"rows ${got.rows}, expected $rows")
    else if (rowsOnly) None
    else if (got.hash != hash) Some(s"row hash ${got.hash}, expected $hash")
    else if (got.sums.length != sums.length) Some(s"${got.sums.length} float sums, expected ${sums.length}")
    else sums.indices.collectFirst {
      case i if !Fingerprint.close(got.sums(i), sums(i), math.max(math.max(got.abs(i), abs(i)), rows.toDouble)) =>
        s"float column $i sums to ${got.sums(i)}, expected ${sums(i)}"
    }
}

object Fingerprint {
  val RelTol = 1e-9

  def close(a: Double, b: Double, scale: Double): Boolean =
    (a.isNaN && b.isNaN) || a == b || math.abs(a - b) <= RelTol * scale

  def zero(width: Int): Fingerprint =
    Fingerprint(0L, 0L, Vector.fill(width)(0.0), Vector.fill(width)(0.0))

  /** Runs the plan behind `rdd` and fingerprints its rows in that one job. */
  def of(rdd: RDD[InternalRow], schema: StructType): Fingerprint = {
    val width = schema.length
    rdd.mapPartitions { it =>
      val acc = new Acc(schema)
      it.foreach(acc.add)
      Iterator(acc.result)
    }.collect().foldLeft(zero(width))(_ merge _)
  }

  private def fmix(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }
  private def mix(h: Long, v: Long): Long = fmix(h * 0x9e3779b97f4a7c15L + v)
  private val NullH = 0x5bd1e995L
  private val FloatH = 0x27d4eb2fL

  final class Acc(schema: StructType) {
    private val fields = schema.fields
    private var rows = 0L
    private var hash = 0L
    private val sums = new Array[Double](fields.length)
    private val abs = new Array[Double](fields.length)

    def add(r: InternalRow): Unit = {
      var h = 17L
      var i = 0
      while (i < fields.length) {
        val dt = fields(i).dataType
        h = mix(h, if (r.isNullAt(i)) NullH else walk(r.get(i, dt), dt, i))
        i += 1
      }
      rows += 1
      hash += fmix(h)
    }

    def result: Fingerprint = Fingerprint(rows, hash, sums.toVector, abs.toVector)

    private def float(col: Int, v: Double): Long = {
      sums(col) += v; abs(col) += math.abs(v); FloatH
    }

    private def walk(v: Any, dt: DataType, col: Int): Long =
      if (v == null) NullH
      else dt match {
        case DoubleType => float(col, v.asInstanceOf[Double])
        case FloatType => float(col, v.asInstanceOf[Float].toDouble)
        case _: StringType =>
          val s = v.asInstanceOf[UTF8String]
          XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        case BinaryType =>
          val b = v.asInstanceOf[Array[Byte]]
          XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 43L)
        case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 2L
        case ByteType => fmix(v.asInstanceOf[Byte].toLong)
        case ShortType => fmix(v.asInstanceOf[Short].toLong)
        case IntegerType | DateType => fmix(v.asInstanceOf[Int].toLong)
        case LongType | TimestampType | TimestampNTZType => fmix(v.asInstanceOf[Long])
        case ArrayType(et, _) =>
          val a = v.asInstanceOf[ArrayData]
          var h = fmix(a.numElements().toLong)
          var i = 0
          while (i < a.numElements()) {
            h = mix(h, if (a.isNullAt(i)) NullH else walk(a.get(i, et), et, col)); i += 1
          }
          h
        case st: StructType =>
          val r = v.asInstanceOf[InternalRow]
          st.fields.indices.foldLeft(19L) { (h, i) =>
            val ft = st.fields(i).dataType
            mix(h, if (r.isNullAt(i)) NullH else walk(r.get(i, ft), ft, col))
          }
        case MapType(kt, vt, _) =>
          val m = v.asInstanceOf[MapData]
          val (ks, vs) = (m.keyArray(), m.valueArray())
          (0 until m.numElements()).foldLeft(fmix(m.numElements().toLong)) { (h, i) =>
            h + mix(walk(ks.get(i, kt), kt, col), if (vs.isNullAt(i)) NullH else walk(vs.get(i, vt), vt, col))
          }
        case _ =>
          val s = UTF8String.fromString(v.toString)
          XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 44L)
      }
  }
}
