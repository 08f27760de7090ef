package perfbench

import java.math.{MathContext, BigDecimal => JBigDecimal}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Row count plus an order-insensitive hash of a query's result: the sum
  * (mod 2^64) of a 64-bit hash of each row's canonical text. Floating
  * point values are rounded to 12 significant digits first, so the order
  * in which a parallel aggregate adds its partials cannot change the
  * fingerprint. */
final case class Fingerprint(rows: Long, hash: String)

object Fingerprint {
  private val mc = new MathContext(12)

  def of(rows: Array[Row]): Fingerprint = {
    var h = 0L
    rows.foreach { r => h += hash64(canon(r)) }
    Fingerprint(rows.length.toLong, f"$h%016x")
  }

  private def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x0dd5).toLong & 0xffffffffL)

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => real(d)
    case f: Float => real(f.toDouble)
    case b: JBigDecimal => b.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.toPlainString
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString("x'", "", "'")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def real(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(mc).stripTrailingZeros.toString

  /** Expected fingerprints: `{"name": {"rows": n, "hash": "..."}, ...}`. */
  def load(path: java.nio.file.Path): Map[String, Fingerprint] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(path))
    val out = Map.newBuilder[String, Fingerprint]
    root.fieldNames().forEachRemaining { k =>
      val n = root.get(k)
      out += k -> Fingerprint(n.get("rows").asLong, n.get("hash").asText)
    }
    out.result()
  }

  def render(fps: Seq[(String, Fingerprint)]): String =
    fps.sortBy(_._1).map { case (k, f) =>
      s"""  ${Json.str(k)}: {"rows": ${f.rows}, "hash": "${f.hash}"}"""
    }.mkString("{\n", ",\n", "\n}\n")
}
