package graft.io

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Source operators S1–S5 (SURVEY.md §2.1).
  *
  * The reference ingests header-ful CSVs with per-dataset delimiters and no
  * explicit schema — every column lands as string
  * (`gerenciando-dados-externos/0a-moving-from-land-to-bucket-to-parquet.py:26,38,52-53`)
  * — and re-reads parquet layer directories
  * (`etl/1-processing-banks.py:44`, `etl/4-generate-final-table-gold.py:7-9`).
  *
  * Scale note: CSV scans are file-parallel narrow reads; schema inference is
  * deliberately NOT enabled (it would add a full extra pass over 100 TB of
  * input). String-typed ingest + explicit downstream casts is both the
  * reference's semantics and the cheaper plan. A header-ful read WITHOUT
  * a schema still runs one Spark job per call, to read the header line
  * (and a parquet read without one runs a job to read a footer); bronze
  * therefore passes [[csvHeaderSchema]] (and silver [[parquetFooterSchema]]),
  * which resolve the same schema on the driver.
  */
object Readers {

  /** S1–S3: delimited text with header, all-string schema (no inference). */
  def csv(spark: SparkSession, path: String, delimiter: String = ",",
          header: Boolean = true, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
      .option("header", header.toString)
      .option("sep", delimiter)
    schema.fold(r)(s => r.schema(s)).csv(path)
  }

  /** The all-string schema a header-ful [[csv]] read of one file infers,
    * resolved on the driver instead of through Spark's `take(1)` job: the
    * first non-empty line (decompressed by its extension) → the univocity
    * parser → Spark's safe-header renaming (empty names become `_c<i>`,
    * duplicates get their index appended). These are the steps
    * `TextInputCSVDataSource.inferFromDataset` takes when `inferSchema` is
    * off; an empty file gives the empty schema, as there.
    */
  def csvHeaderSchema(spark: SparkSession, path: String,
                      delimiter: String = ","): StructType = {
    val conf = spark.sessionState.conf
    val opts = new CSVOptions(Map("header" -> "true", "sep" -> delimiter),
      conf.csvColumnPruning, conf.sessionLocalTimeZone)
    val firstRow = CSVUtils.readHeaderLine(new Path(path), opts, spark.sessionState.newHadoopConf())
      .map(new CsvParser(opts.asParserSettings).parseLine(_))
      .filter(_ != null)
    StructType(firstRow.toSeq.flatMap(row =>
      CSVUtils.makeSafeHeader(row, conf.caseSensitiveAnalysis, opts)
        .map(StructField(_, StringType))))
  }

  /** S1: tab-separated (banks, G0a:26). */
  def tsv(spark: SparkSession, path: String): DataFrame = csv(spark, path, "\t")

  /** S3: pipe-separated (employees, G0a:52-53). */
  def psv(spark: SparkSession, path: String): DataFrame = csv(spark, path, "|")

  /** S4/S5: parquet directory or single file. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** JSON-lines source (engine extension; not in the reference surface). */
  def jsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** JSONL read with inference, falling back to `schemaIfEmpty` when the
    * directory holds no data files (inference on an empty dir yields a
    * zero-column frame; a partition of a lake being empty is routine).
    */
  def jsonlOrEmpty(spark: SparkSession, path: String,
                   schemaIfEmpty: StructType): DataFrame = {
    val df = spark.read.json(path)
    if (df.columns.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schemaIfEmpty)
    else df
  }

  /** Parquet read with an explicit schema — required to read BACK a layer
    * that may have been written from an empty frame (no part files ⇒
    * nothing to infer from; partitioned writes of empty frames emit only
    * _SUCCESS). On populated dirs behaves like [[parquet]], including
    * partition discovery.
    */
  def parquetWithSchema(spark: SparkSession, path: String,
                        schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** The schema [[parquet]] infers for an unpartitioned parquet directory
    * (or one file), read on the driver instead of through Spark's footer
    * job: the footer of the first data file by path, which is the file
    * `ParquetUtils.inferSchema` reads when `mergeSchema` is off and no
    * summary file exists (Spark writes none by default). Hidden files
    * (`_SUCCESS`, `.crc`) are skipped as the file index skips them.
    */
  def parquetFooterSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val first = root.getFileSystem(conf).listStatus(root)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      .sortBy(_.getPath.toString)
      .headOption
      .getOrElse(throw new IllegalArgumentException(s"no parquet data file under $path"))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(first, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(first.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** CSV ingest that CAPTURES malformed rows instead of dropping or dying:
    * PERMISSIVE mode with a corrupt-record column, so a quarantine branch
    * can write bad rows aside while good rows continue — at 100 TB some
    * malformed input is a certainty, and silent drops are unacceptable
    * for training-data lineage. Requires an explicit schema (the corrupt
    * column must be declared in it). NOTE: Spark refuses queries that
    * reference ONLY the corrupt column on the raw scan — cache() or write
    * the frame before splitting good/bad.
    */
  def csvWithCorruptCapture(spark: SparkSession, path: String,
                            schema: StructType, delimiter: String = ",",
                            corruptCol: String = "_corrupt_record"): DataFrame = {
    val full = schema.add(corruptCol, org.apache.spark.sql.types.StringType)
    spark.read
      .option("header", "true")
      .option("sep", delimiter)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .schema(full)
      .csv(path)
  }

  /** JSONL ingest with malformed-line quarantine — the JSON sibling of
    * [[csvWithCorruptCapture]]: PERMISSIVE mode keeps every parseable
    * line, captures broken ones verbatim in the corrupt-record column.
    * Same explicit-schema and cache-before-splitting caveats apply.
    */
  def jsonlWithCorruptCapture(spark: SparkSession, path: String,
                              schema: StructType,
                              corruptCol: String = "_corrupt_record"): DataFrame = {
    val full = schema.add(corruptCol, org.apache.spark.sql.types.StringType)
    spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .schema(full)
      .json(path)
  }

  /** Parquet directory scan with schema merging across part files —
    * the read-side half of schema evolution (new columns appear as nulls
    * on old files). Costs a footer pass per file; use only on layers
    * where schemas actually drift.
    */
  def parquetMergeSchema(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)
}
