package graftbench

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Minimal JSON writer: the result and trace files are flat enough that a
  * dependency would cost more than it saves. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}

/** Timing samples of one kind of operation. */
final class Samples {
  val xs = mutable.ArrayBuffer.empty[Double]
  def +=(x: Double): Unit = xs += x
  def n: Int = xs.size
  def sum: Double = xs.sum
  def pct(p: Double): Double = Samples.pct(xs.toSeq, p)
  def median: Double = pct(50)
  /** Median, plus the highest of p90/p95/p99 that has at least ten
    * samples beyond it, with the sample count. */
  def summary: String = {
    val tail = Seq(99.0, 95.0, 90.0).find(p => n * (1 - p / 100) >= 10)
    val hi = tail.map(p => Seq(s"p${p.toInt}" -> Json.num(pct(p)))).getOrElse(Nil)
    Json.obj(Seq("p50" -> Json.num(median)) ++ hi ++ Seq("n" -> n.toString))
  }
}

object Samples {
  /** Linear-interpolated percentile; NaN when empty. */
  def pct(v: Seq[Double], p: Double): Double =
    if (v.isEmpty) Double.NaN
    else {
      val s = v.sorted
      val r = (s.size - 1) * p / 100.0
      val lo = math.floor(r).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(v: Seq[Double]): Double = pct(v, 50)
}

/** Everything one run reports. Metric values are kept with their units;
  * `extra` holds the detail that only goes to the result file. */
final class Out {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val extra = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def e2e(name: String, v: Double, unit: String): Unit = endToEnd(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = perLayer(name) = (v, unit)

  /** Count one operation; `problem` is empty when its output checked out. */
  def op(problem: Option[String]): Unit = {
    attempted += 1
    problem.foreach { p => failed += 1; if (failures.size < 50) failures += p }
  }

  private def metrics(m: mutable.LinkedHashMap[String, (Double, String)]): String =
    Json.obj(m.map { case (k, (v, u)) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })

  def json: String = Json.obj(Seq(
    "correct" -> (failed == 0).toString,
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "end_to_end" -> metrics(endToEnd),
    "per_layer" -> metrics(perLayer),
    "failures" -> Json.arr(failures.map(Json.str)),
    "extra" -> Json.obj(extra)
  ))
}

/** Seeded generators. The run seed goes through a SplitMix64 finalizer,
  * because java.util.Random's first draws are correlated for nearby
  * seeds (seeds 101..109 all shuffled two queries the same way). */
object Seeds {
  def rng(seed: Long, salt: Long): scala.util.Random = {
    var z = seed * 0x9E3779B97F4A7C15L + salt
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new scala.util.Random(z ^ (z >>> 31))
  }
}

object Clock {
  def now: Long = System.nanoTime()
  def ms(fromNs: Long, toNs: Long): Double = (toNs - fromNs) / 1e6
  def timed[T](body: => T): (T, Double) = {
    val t0 = now
    val r = body
    (r, ms(t0, now))
  }
}

/** Order-independent content hash of a query result: each row is hashed
  * field by field and the row hashes are summed, so the partitioning and
  * row order of the plan do not matter. Floating-point values are rounded
  * to 9 significant digits first, because parallel sums may differ in
  * their last bits between runs. */
object RowHash {
  private def mix(h: Long, x: Long): Long = {
    var z = (h ^ x) * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 32)) * 0xD6E8FEB86659FD93L
    z ^ (z >>> 32)
  }
  private def strHash(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
    h
  }
  private def dbl(d: Double): Long =
    if (d.isNaN) 0x7ff8L
    else if (d == 0.0 || d.isInfinite) java.lang.Double.doubleToLongBits(d + 0.0)
    else strHash(new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toString)

  private def value(get: Int => Any, isNull: Int => Boolean, i: Int, t: DataType): Long =
    if (isNull(i)) 0x5bd1e995L
    else t match {
      case BooleanType => if (get(i).asInstanceOf[Boolean]) 1L else 2L
      case ByteType | ShortType | IntegerType | DateType | LongType | TimestampType | TimestampNTZType =>
        get(i) match { case n: java.lang.Number => n.longValue; case o => strHash(o.toString) }
      case FloatType  => dbl(get(i).asInstanceOf[Float].toDouble)
      case DoubleType => dbl(get(i).asInstanceOf[Double])
      case _: DecimalType | StringType => strHash(get(i).toString)
      case BinaryType => java.util.Arrays.hashCode(get(i).asInstanceOf[Array[Byte]]).toLong
      case st: StructType => row(get(i).asInstanceOf[InternalRow], st)
      case ArrayType(et, _) =>
        val a = get(i).asInstanceOf[ArrayData]
        (0 until a.numElements()).foldLeft(17L)((h, j) =>
          mix(h, value(k => a.get(k, et), a.isNullAt, j, et)))
      case MapType(kt, vt, _) =>
        val m = get(i).asInstanceOf[MapData]
        val ks = m.keyArray(); val vs = m.valueArray()
        (0 until m.numElements()).map(j =>
          mix(value(k => ks.get(k, kt), ks.isNullAt, j, kt), value(k => vs.get(k, vt), vs.isNullAt, j, vt))).sum
      case _ => strHash(get(i).toString)
    }

  def row(r: InternalRow, schema: StructType): Long =
    schema.fields.indices.foldLeft(31L) { (h, i) =>
      val t = schema.fields(i).dataType
      mix(h, value(j => r.get(j, t), r.isNullAt, i, t))
    }

  /** (row count, summed row hash) of one partition. */
  def partition(rows: Iterator[InternalRow], schema: StructType): (Long, Long) = {
    var n = 0L; var h = 0L
    rows.foreach { r => n += 1; h += row(r, schema) }
    (n, h)
  }
}
