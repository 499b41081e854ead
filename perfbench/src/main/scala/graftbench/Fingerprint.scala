package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Locale

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** Order-insensitive result fingerprint: the row count plus the sum of
  * per-row hashes. Columns are taken in name order and floats are rounded
  * to 6 decimals, as the DuckDB comparison in `tools/verify_local.py`
  * canonicalizes them. */
object Fingerprint {

  final case class Fp(rows: Long, hash: String)

  def canon(v: Any): String = v match {
    case null => "NULL"
    case d: Double => String.format(Locale.ROOT, "%.6f", Double.box(d))
    case f: Float => String.format(Locale.ROOT, "%.6f", Double.box(f.toDouble))
    case b: java.math.BigDecimal => b.toPlainString
    case b: BigDecimal => b.bigDecimal.toPlainString
    case bytes: Array[Byte] => bytes.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def rowHash(md: MessageDigest, r: Row): Long = {
    val d = md.digest(r.toSeq.map(canon).mkString("\u0001").getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  def of(df: DataFrame): Fp = {
    val cols = df.columns.sorted
    val (n, h) = df.select(cols.map(c => col(s"`$c`")).toIndexedSeq: _*).rdd
      .mapPartitions { it =>
        val md = MessageDigest.getInstance("MD5")
        var n = 0L
        var h = 0L
        it.foreach { r => n += 1; h += rowHash(md, r) }
        Iterator((n, h))
      }
      .collect()
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    Fp(n, f"$h%016x")
  }

  /** `{"name": {"rows": n, "hash": "..."}}` as written by [[Main]]'s
    * fingerprint mode. */
  def load(path: java.nio.file.Path): Map[String, Fp] = {
    val text = new String(java.nio.file.Files.readAllBytes(path), UTF_8)
    val re = """"([a-z0-9_]+)"\s*:\s*\{\s*"rows"\s*:\s*(\d+)\s*,\s*"hash"\s*:\s*"([0-9a-f]+)"\s*\}""".r
    re.findAllMatchIn(text).map(m => m.group(1) -> Fp(m.group(2).toLong, m.group(3))).toMap
  }
}
