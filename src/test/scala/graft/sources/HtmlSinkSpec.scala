package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class HtmlSinkSpec extends SparkSpec {

  test("renderTable emits a titled table with one tr per row and escapes HTML") {
    import spark.implicits._
    val df = Seq(("a<b", 1L), ("c&d", 2L)).toDF("name \"q\"", "n")
    val html = HtmlSink.renderTable(df, "T<itle>")
    assert(html.contains("<caption>T&lt;itle&gt;</caption>"))
    assert(html.contains("<th>name &quot;q&quot;</th>"))
    assert(html.contains("<td>a&lt;b</td>") && html.contains("<td>c&amp;d</td>"))
    assert("<tr><td".r.findAllIn(html).size == 2)
  }

  test("renderTable refuses unreduced frames") {
    import spark.implicits._
    val big = (1 to 50).toDF("n")
    intercept[IllegalArgumentException] {
      HtmlSink.renderTable(big, "big", maxRows = 10)
    }
  }

  test("s11_html_sink writes the side-by-side leaderboard file") {
    val rows = graft.SparkEntry.queries("s11_html_sink")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows.keySet == Set("top10", "rows24_33", "combined"))
    assert("<tr><td".r.findAllIn(rows("top10")).size == 10)
    assert("<tr><td".r.findAllIn(rows("rows24_33")).size == 10)
    assert(rows("combined").contains("display: flex"))
    assert(rows("combined").startsWith("<!DOCTYPE html>"))
    // file landed on disk
    val base = graft.Caches.scratch("s11", sfDir)
    val f = new java.io.File(s"$base/leaderboard.html")
    assert(f.exists && f.length > 0)
    // top-10 really is the global top by price: rank 1 row appears first
    val top1Price = graft.Tables.load(spark, sfDir, "orders")
      .agg(max("o_totalprice")).head.get(0).toString
    assert(rows("top10").contains(s"<td>$top1Price</td>"))
  }
}
