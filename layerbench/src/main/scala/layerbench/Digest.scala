package layerbench

import org.apache.spark.sql.Row

/** Row count and order-insensitive SHA-256 of a result's rows. */
final case class Digest(rows: Long, hash: String) {
  def json: String = s"""{"rows": $rows, "hash": "$hash"}"""
  override def toString: String = s"$rows rows, hash ${hash.take(12)}"
}

object Digest {
  def apply(rows: Seq[Row]): Digest = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    Digest(rows.size.toLong, md.digest().map(b => f"$b%02x").mkString)
  }
}

/** Values recorded from the engine at the commit that defined the
  * benchmark: expected.json next to the launcher. */
object Expected {
  private lazy val all: Map[String, Map[String, Digest]] = {
    val path = sys.props.getOrElse("layerbench.expected", "layerbench/expected.json")
    val src = scala.io.Source.fromFile(path, "UTF-8")
    val json = try org.json4s.jackson.JsonMethods.parse(src.mkString) finally src.close()
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    json.extract[Map[String, Map[String, Map[String, org.json4s.JValue]]]].map { case (sec, m) =>
      sec -> m.map { case (k, v) => k -> Digest(v("rows").extract[Long], v("hash").extract[String]) }
    }
  }
  def section(name: String): Map[String, Digest] = all.getOrElse(name, Map.empty)
}
