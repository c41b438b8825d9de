package graft.queries

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** x32's semantic contract beyond the oracle hash: each epoch must be a
  * TRUE permutation of the corpus (every doc exactly once, positions
  * dense from 1), epochs must be independent orders (a shuffler that
  * degenerates to sorted-by-id or repeats epoch 0 would still "look"
  * valid row-by-row), and the permutation must be partitioning-invariant
  * (the reproducibility claim a resumable training run rests on).
  */
class EpochShuffleSpec extends SparkSpec {

  private def run() = graft.SparkEntry.queries("x32_epoch_shuffle")(spark, sfDir)

  test("each epoch is a dense 1..n permutation of all doc_ids") {
    val out = run().cache()
    val nDocs = Tables.load(spark, sfDir, "documents").count()
    assert(out.count() == 3 * nDocs)
    val perEpoch = out.groupBy("epoch")
      .agg(count(lit(1)).as("n"),
           countDistinct("doc_id").as("nd"),
           min("pos").as("lo"), max("pos").as("hi"),
           countDistinct("pos").as("np"))
      .collect()
    assert(perEpoch.length == 3)
    perEpoch.foreach { r =>
      assert(r.getAs[Long]("n") == nDocs && r.getAs[Long]("nd") == nDocs,
        s"epoch ${r.get(0)} is not a permutation of the corpus")
      assert(r.getAs[Long]("lo") == 1L && r.getAs[Long]("hi") == nDocs &&
             r.getAs[Long]("np") == nDocs,
        s"epoch ${r.get(0)} positions are not dense 1..n")
    }
    out.unpersist()
  }

  test("epochs are distinct orders, and none is the sorted-by-id order") {
    val out = run()
    // how many docs sit at the same position in two different epochs —
    // for a real permutation pair this is tiny; identical orders = n
    val e = (0 to 2).map(i =>
      out.filter(col("epoch") === i).select(col("pos"), col("doc_id").as(s"d$i")))
    val same01 = e(0).join(e(1), "pos").filter(col("d0") === col("d1")).count()
    val same02 = e(0).join(e(2), "pos").filter(col("d0") === col("d2")).count()
    val n = e(0).count()
    assert(same01 < n / 10 && same02 < n / 10,
      s"epoch orders nearly coincide ($same01, $same02 of $n fixed points)")
    // not the trivial order: position 1 should not hold the minimum id
    // in every epoch (probability 0 for a real scramble at any n > ~10)
    val minId = Tables.load(spark, sfDir, "documents").agg(min("doc_id")).head.getLong(0)
    val firstIds = out.filter(col("pos") === 1).select("doc_id")
      .collect().map(_.getLong(0))
    assert(firstIds.exists(_ != minId), "shuffle degenerated to sorted-by-id")
  }

  test("the permutation is invariant to input partitioning") {
    val a = run().collect().map(_.toString).toSeq
    // same query over a repartitioned source view must give byte-equal order
    val d = Tables.load(spark, sfDir, "documents").select("doc_id")
      .repartition(13)
    val nDocs = broadcast(d.agg(count(lit(1)).as("n_docs")))
    val keyed = d
      .select(col("doc_id"), explode(sequence(lit(0L), lit(2L))).as("epoch"))
      .withColumn("skey", expr("mix64(doc_id * 3 + epoch)"))
    val b = graft.operators.GlobalRank
      .withGlobalRank(keyed, "gpos", col("epoch"), col("skey"), col("doc_id"))
      .crossJoin(nDocs)
      .select(col("epoch"), (col("gpos") - col("epoch") * col("n_docs")).as("pos"),
              col("doc_id"))
      .orderBy("epoch", "pos")
      .collect().map(_.toString).toSeq
    assert(a == b, "epoch shuffle depends on input partitioning")
  }
}
