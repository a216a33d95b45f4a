package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Uses `GraftExtensions.install` on whatever session is live — builder
  * extensions only bind at first creation, and in a full test run another
  * suite has usually created the session already (getOrCreate would
  * silently skip them), so the `spark.sql.extensions` config path itself
  * is not exercised here.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = graft.SparkSpec.session

  test("native expressions are callable from SQL") {
    GraftExtensions.install(spark)
    val row = spark.sql(
      """SELECT
        | cosine_similarity(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                   array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS cos,
        | dot_product(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |             array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS dot,
        | simhash64(array('a', 'b')) AS sh,
        | size(minhash_signature(array('abc', 'def'), 16)) AS sig_len,
        | srp_bucket(array(CAST(0.5 AS FLOAT), CAST(-0.5 AS FLOAT)), 8) AS bkt,
        | gray_ahash64(CAST(repeat('x', 64) AS BINARY), 8, 8) AS ah,
        | pcm16_energy_sign_hash(CAST(repeat('xy', 130) AS BINARY)) AS eh
        |""".stripMargin).head()
    assert(row.getDouble(0) === 1.0)
    assert(row.getDouble(1) === 11.0)
    assert(row.getLong(2) != 0L)
    assert(row.getInt(3) == 16)
    assert(row.getLong(4) >= 0L && row.getLong(4) < 256L)
    assert(row.getLong(5) === 0L, "uniform 8x8 buffer → ahash 0")
    assert(row.getLong(6) === 0L, "constant-amplitude PCM → flat envelope")
  }

  test("q278 SQL-entry statement equals the equivalent DSL pipeline") {
    GraftExtensions.install(spark)
    import org.apache.spark.sql.functions._
    import graft.functions.VectorExpressions
    val dir = "/root/testdata/sf0.001"
    val viaSql = Queries.all("q278_sql_entry")(spark, dir).collect().toSeq
    val emb = Tables.table(spark, dir, "embeddings")
    val anchor = emb.orderBy(col("vec_id")).limit(1)
      .select(col("embedding").as("ae"))
    val viaDsl = emb.crossJoin(broadcast(anchor))
      .select(col("label"),
        round(sqrt(VectorExpressions.dot_product(
          col("embedding"), col("embedding"))), 6)
          .cast("decimal(18,6)").as("nrm"),
        round(VectorExpressions.cosine_similarity(
          col("embedding"), col("ae")), 6)
          .cast("decimal(18,6)").as("cos"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("nrm")).cast("double") / count(lit(1)), 4)
          .as("avg_norm"),
        round(sum(col("cos")).cast("double") / count(lit(1)), 4)
          .as("avg_cos"))
      .orderBy(col("label"))
      .collect().toSeq
    assert(viaSql === viaDsl)
  }

  test("srp_bucket from SQL equals the Column API bucket") {
    GraftExtensions.install(spark)
    import org.apache.spark.sql.functions._
    import graft.functions.VectorExpressions
    val df = spark.range(1).select(
      expr("srp_bucket(array(CAST(0.3 AS FLOAT), CAST(0.9 AS FLOAT)), 12)").as("a"),
      VectorExpressions.srp_bucket(
        array(lit(0.3f), lit(0.9f)), 12).as("b"))
    val r = df.head()
    assert(r.getLong(0) == r.getLong(1))
  }
}
