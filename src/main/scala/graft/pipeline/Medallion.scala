package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{Readers, Writers}
import graft.transform.{Canonicalize, Enrich, Harmonize, Normalize}
import graft.quality.{Checkpoint, Expectations}
import graft.quality.Expectations.Suite

/** The reference's medallion pipeline (landing → bronze → silver → gold)
  * generalized into configuration-driven stages (SURVEY.md §3).
  *
  * - Bronze (`gerenciando-dados-externos/0a-...py`): delimited text →
  *   parquet, with multi-file schema harmonization + union.
  * - Silver (`etl/1..3-processing-*.py`): normalize names → canonicalize
  *   values → derive columns → data-quality checkpoint → parquet.
  * - Gold (`etl/4-generate-final-table-gold.py`): join fact to dims →
  *   remap → project report names → group + average.
  *
  * Scale notes: every stage is a narrow map except the gold aggregate
  * (the single guaranteed shuffle, SURVEY §3.3). Unlike the reference, the
  * DQ checkpoint validates the in-memory frame BEFORE writing (one scan, no
  * re-read, SURVEY §4.2). Gold's join feeds a single aggregate, so it is
  * not cached: a cache would only add a job to fill it and stop the scans
  * below it from pruning columns. Bronze and silver resolve their input
  * schemas on the driver, so each layer write is the stage's only job.
  */
object Medallion {

  /** One landing CSV group: files share a delimiter; schemas may differ. */
  final case class CsvSource(paths: Seq[String], delimiter: String = ",")

  final case class BronzeSpec(source: CsvSource, out: String)

  final case class SilverSpec(
      in: String,
      out: String,
      renames: Seq[(String, String)] = Nil,
      rules: Seq[Canonicalize.Rule] = Nil,
      derived: Seq[(String, DataFrame => org.apache.spark.sql.Column)] = Nil,
      suite: Option[Suite] = None,
      reportDir: Option[String] = None)

  /** Bronze: read each landing file (all-string), harmonize schemas by
    * padding missing string columns with '' (G0a:56-57), union by name
    * (vs the reference's order-dependent positional union, SURVEY §4.4-d),
    * write parquet. Each file's schema comes from its header line, read on
    * the driver ([[Readers.csvHeaderSchema]]).
    */
  def bronze(spark: SparkSession, spec: BronzeSpec): DataFrame = {
    val delim = spec.source.delimiter
    val frames = spec.source.paths.map(p =>
      Readers.csv(spark, p, delim, schema = Some(Readers.csvHeaderSchema(spark, p, delim))))
    val unioned = Harmonize.unionAll(frames)
    Writers.parquet(unioned, spec.out, SaveMode.Overwrite)
  }

  /** Silver: one Project for renames+rules+derivations; the DQ suite is
    * collected via `observe()` DURING the layer write itself — zero
    * dedicated validation scans (vs the reference's one job per
    * expectation over a re-read file, SURVEY §4.2). The bronze schema is
    * read from a footer on the driver ([[Readers.parquetFooterSchema]]).
    */
  def silver(spark: SparkSession, spec: SilverSpec): DataFrame = {
    val raw = Readers.parquetWithSchema(spark, spec.in,
      Readers.parquetFooterSchema(spark, spec.in))
    val named = Normalize.rename(Normalize.columns(raw), spec.renames: _*)
    val cleaned = Canonicalize(named, spec.rules)
    val derived = spec.derived.foldLeft(cleaned) { case (d, (name, f)) =>
      d.withColumn(name, f(d))
    }
    spec.suite match {
      case Some(s) =>
        val (instrumented, obs) = Checkpoint.observed(derived, s)
        Writers.parquet(instrumented, spec.out, SaveMode.Overwrite)
        val result = Checkpoint.observedResult(instrumented, obs, s)
        spec.reportDir.foreach(dir => Checkpoint.store(result, dir))
        // Reference semantics: report, never fail (SURVEY §4.4-e).
        derived
      case None =>
        Writers.parquet(derived, spec.out, SaveMode.Overwrite)
    }
  }

  /** Gold (E4 shape, parameterized): inner-join fact to a dim on one key,
    * left-join a second dim on another, project report columns, group and
    * average. The `Seq(key)` join form dedupes the key column directly —
    * the reference's alias/drop/rename dance (E4:28) is unnecessary.
    */
  final case class GoldSpec(
      innerKey: String,
      leftKey: String,
      reportCols: Seq[(String, String)], // (input col, pretty name)
      groupBy: Seq[String],              // pretty names
      averages: Seq[(String, String)],   // (pretty name in, out name)
      roundedAverages: Seq[(String, String)] = Nil)

  def gold(fact: DataFrame, dimInner: DataFrame, dimLeft: DataFrame,
           spec: GoldSpec): DataFrame = {
    require(spec.averages.nonEmpty || spec.roundedAverages.nonEmpty,
      "GoldSpec needs at least one average")
    val joined = fact
      .join(dimInner, Seq(spec.innerKey), "inner")
      .join(dimLeft, Seq(spec.leftKey), "left")
    val report = joined.select(spec.reportCols.map {
      case (in, pretty) => col(in).as(pretty)
    }: _*)
    val aggs =
      spec.averages.map { case (in, out) =>
        avg(Enrich.toDoubleOrNull(col(in))).as(out)
      } ++ spec.roundedAverages.map { case (in, out) =>
        round(avg(Enrich.toDoubleOrNull(col(in)))).as(out)
      }
    report.groupBy(spec.groupBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}
