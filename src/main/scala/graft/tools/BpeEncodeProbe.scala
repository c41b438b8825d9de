package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: R-scaling of the two BPE encode forms over the documents
  * corpus at a given data dir — the measurement behind the x38 R-bound
  * note (BpeQueries scaladoc, SCALING.md).
  *
  * Usage: runMain graft.tools.BpeEncodeProbe <sfDir> [R...]
  * (default R = 8 64 256 1024). Prints one JSON line per R:
  * {"r":N,"udf_sec":...,"chain_sec":...|null,"n_tokens_head":...}
  *
  * The merge table: real training costs one driver round-trip per rule,
  * so probing R=1024 uses a SYNTHETIC valid table built from corpus
  * statistics in one aggregation — the PREFIX CHAINS of the most
  * frequent words, in frequency order: for word w, merges (w1, w2),
  * (w1w2, w3), ... build the whole word, each operand a base char or
  * the strictly-earlier merge's output (valid by construction, NESTED
  * like a trained table, and the merges actually FIRE corpus-wide).
  * The synthetic corpus's 30-word vocabulary caps the firing rules at
  * ~107, so the table is padded to R with valid never-firing rules
  * (prefix chains over a character absent from the corpus) — which is
  * exactly what a production table looks like from one corpus slice's
  * view: a word of length n fires at most n-1 of the 32k-100k rules,
  * and the rest must cost NOTHING. That is the asymmetry measured
  * here: the loop's cost is per-merge-FIRED (rank lookups are O(1)
  * whatever R is), while the chain form executes one full string scan
  * per RULE, firing or not, on top of O(R) plan nodes with quadratic
  * analysis cost — so past R=256 the chain is skipped and recorded as
  * null: the growth curve to 256 already shows why it cannot be the
  * production form.
  */
object BpeEncodeProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val rs = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
             else Seq(8, 64, 256, 1024)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Graft.session(Some(s"local[$cpus]"))
    spark.sparkContext.setLogLevel("WARN")

    val docs = graft.Tables.load(spark, sfDir, "documents")
    // synthetic valid NESTED rank table: prefix chains of the most
    // frequent words (ties broken lexicographically for determinism);
    // one word of length n contributes n-1 merges, so ~maxR/4 words
    // cover maxR rules with plenty of slack
    val maxR = rs.max
    val topWords = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2 && !col("word").rlike("[\\x00-\\x1f]"))
      .groupBy("word").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), col("word"))
      .limit(maxR) // each word adds >= 1 fresh merge, usually several
      .collect().map(_.getString(0))
    val seen = scala.collection.mutable.LinkedHashSet.empty[(String, String)]
    for (w <- topWords if seen.size < maxR) {
      var prefix = w.substring(0, 1)
      for (c <- w.substring(1)) {
        seen += ((prefix, c.toString))
        prefix += c
      }
    }
    val nFiring = seen.size
    // pad with valid never-firing rules: a prefix chain over 'Q', which
    // the lowercase corpus never contains
    var qPrefix = "Q"
    while (seen.size < maxR) {
      seen += ((qPrefix, "Q"))
      qPrefix += "Q"
    }
    val pairs = seen.toIndexedSeq.take(maxR)
    System.err.println(s"table: $nFiring corpus-firing rules + " +
      s"${pairs.size - nFiring} never-firing pad rules")

    val S = "\u0001"; val E = "\u0002" // BpeQueries symbol delimiters
    def chainEncode(merges: Seq[(String, String)]) = {
      val enc0 = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) >= 1 && !col("word").rlike("[\\x00-\\x1f]"))
        .withColumn("enc", regexp_replace(col("word"), "(.)", S + "$1" + E))
      val encoded = merges.foldLeft(enc0) { case (df, (l, r)) =>
        df.withColumn("enc",
          call_function("replace", col("enc"),
            lit(S + l + E + S + r + E), lit(S + l + r + E)))
      }
      encoded
        .select(col("doc_id"), explode(
          split(expr("substring(enc, 2, length(enc) - 2)"), s"$E$S")).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n_tokens"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(desc("n_tokens"), col("token"))
        .limit(100)
    }

    for (r <- rs) {
      val table = pairs.take(r)
      val t0 = System.nanoTime()
      val udfHead = graft.functions.BpeEncode.encodeCorpusIter(docs, table).collect()
      val udfSec = (System.nanoTime() - t0) / 1e9
      val chainSec: Option[Double] =
        if (r > 256) None // O(R) plan nodes, quadratic analysis — not the production form
        else try {
          val t1 = System.nanoTime()
          val chainHead = chainEncode(table).collect()
          require(chainHead.map(_.toString).toSeq == udfHead.map(_.toString).toSeq,
            s"R=$r: chain and UDF heads diverge")
          Some((System.nanoTime() - t1) / 1e9)
        } catch {
          case e: Throwable =>
            System.err.println(s"chain R=$r failed: ${e.getClass.getSimpleName}: " +
              e.getMessage.take(200))
            None
        }
      println(s"""{"r":$r,"udf_sec":${"%.2f".format(udfSec)},""" +
        s""""chain_sec":${chainSec.map("%.2f".format(_)).getOrElse("null")},""" +
        s""""head_top":"${udfHead.headOption.map(_.getString(0)).getOrElse("")}"}""")
    }
    spark.stop()
  }
}
