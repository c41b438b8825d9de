package graft.plans

import graft.{IsolatedSparkSpec, Tables}
import graft.operators.Cosine
import org.apache.spark.sql.functions._

class CosineSimSpec extends IsolatedSparkSpec {

  private lazy val emb =
    Tables.load(spark, sfDir, "embeddings").limit(50).cache()

  test("cosine_sim matches the HOF fold bitwise (same fold order)") {
    val pairs = emb.select(col("vec_id"), col("embedding").as("a"))
      .crossJoin(emb.select(col("vec_id").as("v2"), col("embedding").as("b")))
      .limit(500)
    val diff = pairs.select(
        Cosine.cosineSim(col("a"), col("b")).as("native"),
        Cosine.cosine(col("a"), col("b")).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.count() == 0)
  }

  test("cosine_sim survives codegen AND interpreted paths identically") {
    val pairs = emb.select(col("embedding").as("a"))
      .crossJoin(emb.select(col("embedding").as("b"))).limit(200)
    val on = pairs.select(sum(Cosine.cosineSim(col("a"), col("b"))))
      .head.getDouble(0)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val off = try pairs.select(sum(Cosine.cosineSim(col("a"), col("b"))))
      .head.getDouble(0)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(on == off)
  }

  test("cosine_sim of a vector with itself is 1") {
    val selfs = emb.select(
      Cosine.cosineSim(col("embedding"), col("embedding")).as("c"))
    assert(selfs.filter(abs(col("c") - 1.0) > 1e-12).count() == 0)
  }

  test("cosine_sim is null-safe") {
    val r = emb.limit(1).select(
      Cosine.cosineSim(lit(null).cast("array<float>"), col("embedding")).as("c"))
      .head
    assert(r.isNullAt(0))
  }

  test("cosine_sim returns null on length mismatch, like the HOF mirror") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
    val r = df.select(
      Cosine.cosineSim(col("a"), col("b")).as("native"),
      Cosine.cosine(col("a"), col("b")).as("hof")).head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }
}
