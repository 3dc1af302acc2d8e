package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Order-insensitive digest of a query result: every row is rendered
  * canonically (floating-point values rounded to 6 significant digits,
  * so partition-order differences in float sums do not matter), hashed,
  * and the 64-bit row hashes are summed.
  */
object Digest {
  def of(rows: Array[Row]): String = {
    var acc = 0L
    rows.foreach { r =>
      val md = MessageDigest.getInstance("MD5")
      val h = md.digest(render(r).getBytes(StandardCharsets.UTF_8))
      acc += java.nio.ByteBuffer.wrap(h).getLong
    }
    java.lang.Long.toHexString(acc)
  }

  private def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => num(b.doubleValue)
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d == 0.0) "0"
    else if (d.isNaN || d.isInfinite) d.toString
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6)).stripTrailingZeros.toPlainString
}

/** Row count and digest of one query result. */
final case class Result(rows: Long, digest: String)

object Result {
  def of(spark: org.apache.spark.sql.SparkSession, q: graft.operators.Q, dir: String): Result = {
    val rows = q.run(spark, dir).collect()
    Result(rows.length.toLong, Digest.of(rows))
  }
}

/** Expected results, `{"<query>": {"rows": n, "digest": "hex"}, ...}`. */
object Expected {
  def load(f: java.io.File): Map[String, Result] = {
    if (!f.isFile) return Map.empty
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    root.properties().asScala.map { e =>
      e.getKey -> Result(e.getValue.get("rows").asLong, e.getValue.get("digest").asText)
    }.toMap
  }

  def render(m: Seq[(String, Result)]): String =
    m.sortBy(_._1).map { case (n, r) =>
      "  " + Json.str(n) + ": " + Json.obj("rows" -> r.rows, "digest" -> r.digest)
    }.mkString("{\n", ",\n", "\n}\n")
}
