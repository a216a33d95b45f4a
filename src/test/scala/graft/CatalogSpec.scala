package graft

import org.apache.spark.sql.functions._

/** Invariants over the declared catalog itself — catches wiring mistakes
  * (dangling oracle keys, duplicate output columns, queries that fail to
  * even plan) in `sbt test`, before the driver's Verify run does.
  */
class CatalogSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("every oracle key has a matching query") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracles without queries: $dangling")
  }

  test("catalog is non-trivial and names are well-formed") {
    assert(SparkEntry.queries.size >= 144)
    // zero rows-only gates is a round-4 invariant: EVERY query has an oracle
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
    assert(SparkEntry.queries.keys.forall(_.matches("q\\d+_[a-z0-9_]+")))
  }

  test("the declared registry holds 376 distinct names, one plan each") {
    val names = Queries.declared.map(_._1)
    val repeated = names.diff(names.distinct)
    assert(repeated.isEmpty, s"names declared twice: $repeated")
    assert(names.size == 376)
    val sharedPlans = for {
      ((a, qa), i) <- Queries.declared.zipWithIndex
      ((b, qb), j) <- Queries.declared.zipWithIndex
      if i < j && (qa.plan eq qb.plan)
    } yield s"$a = $b"
    assert(sharedPlans.isEmpty, s"one plan under two names: $sharedPlans")
  }

  test("every query plans and yields a duplicate-free schema at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val cols = df.columns.toSeq
      assert(cols.distinct.size == cols.size,
        s"$name has duplicate output columns: $cols")
      assert(cols.nonEmpty, s"$name has no columns")
    }
  }

  test("oracle SQL strings are DuckDB-shaped (no Spark-only syntax)") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(!sql.contains("`"), s"$name: backticks are not DuckDB quoting")
      assert(!sql.toLowerCase.contains("get_json_object"),
        s"$name: Spark-only function in oracle")
    }
  }

  test("entry (driver smoke) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
