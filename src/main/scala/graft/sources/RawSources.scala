package graft.sources

import graft.meta._
import graft.ops.CleanOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A1/A2/A7/A8 — raw survey sources and sinks.
  *
  * The reference's raw layer is per-(year, table, urban|rural) CSV files
  * with year-versioned file codes (hbsir/core/data_cleaner.py:23-82:
  * `{U|R}{yy}{file_code}.csv` under `extracted/{year}/`), cleaned with
  * side-specific metadata then concatenated (data_cleaner.py:108-138).
  *
  * Spark-first notes:
  *   - one `spark.read.csv(paths*)` call per side keeps it a single scan;
  *   - the cleaned output should be written `partitionBy("Year")` so
  *     every downstream year selection partition-prunes (replaces the
  *     reference's `{year}_{table}.parquet` file naming);
  *   - at 100 TB the CSV->parquet conversion is the one full-data pass;
  *     everything after reads pruned columnar data.
  */
object RawSources {

  /** A1: build the reference-shaped CSV file path. */
  def csvPath(baseDir: String, tableMeta: Meta, tableName: String, year: Int, urban: Boolean,
              resolver: ResolverSettings = ResolverSettings()): String = {
    val resolved = new VersionResolver(tableMeta, year, resolver).getVersion
    val side = if (urban) "urban" else "rural"
    val sideMeta = resolved.get(side).getOrElse(resolved)
    val fileCode = sideMeta.get("file_code").map(_.asStr).getOrElse(
      throw new IllegalArgumentException(s"Table $tableName is not available for year $year"))
    val ur = if (urban) "U" else "R"
    val yearString = if (year < 1400) (year % 100).toString else year.toString
    s"$baseDir/$year/$ur$yearString$fileCode.csv"
  }

  /** A1: read one side's raw CSV (header row, everything as strings —
    * typing happens in the clean layer exactly like the reference).
    */
  def readRawCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)

  /** B5: clean urban and rural with side-specific metadata, then union by
    * name with null-fill (data_cleaner.py:108-138). The clean is a single
    * projection per side, so the union stays one stage per input file set.
    */
  def openAndCleanTable(
      spark: SparkSession,
      baseDir: String,
      tableMeta: Meta,
      tableName: String,
      year: Int,
      resolver: ResolverSettings = ResolverSettings(),
  ): DataFrame = {
    val sides = Seq(true, false).map { urban =>
      val raw = readRawCsv(spark, csvPath(baseDir, tableMeta, tableName, year, urban, resolver))
      val resolved = new VersionResolver(tableMeta, year, resolver).getVersion
      val sideKey = if (urban) "urban" else "rural"
      val sideMeta = resolved.get(sideKey).getOrElse(resolved)
      // compileSpec resolves again internally; pass the side-specific subtree
      val spec = CleanOps.compileSpec(sideMeta, year, resolver)
      CleanOps.cleanTable(raw, spec)
    }
    CleanOps.unionAll(sides)
  }

  /** A7: write a processed table partitioned by Year — the layout that
    * makes every year-ranged load a partition-pruned scan.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String] = Seq("Year")): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** A2: read a partitioned processed table (year filters prune). */
  def readPartitioned(spark: SparkSession, path: String, years: Seq[Int] = Seq.empty): DataFrame = {
    val df = spark.read.parquet(path)
    if (years.isEmpty) df else df.where(col("Year").isin(years: _*))
  }

  /** A3: read parquet straight off HTTP(S) URLs — the reference's
    * remote-mirror path (data_engine.py:242-248: tables are fetched
    * from a public parquet mirror before local reads; default URL at
    * config/default_settings.yaml:37). Spark-first, there is no
    * "download step": [[HttpRangeFileSystem]] makes the URL a
    * first-class Hadoop path, so the SAME `spark.read.parquet` plan —
    * column pruning, predicate pushdown, row-group skipping — runs
    * against the remote file, fetching only the byte ranges the pruned
    * scan touches (the S3A pattern over plain HTTP).
    *
    * Plain HTTP has no directory listings, so every element of `urls`
    * must be an explicit file URL. Registration is process-wide and
    * idempotent: Hadoop's core-default maps `fs.http.impl` to its
    * non-seekable `HttpFileSystem` (length -1 — cannot read parquet),
    * so this uses `set`, not `setIfUnset`.
    */
  def readRemote(spark: SparkSession, urls: Seq[String]): DataFrame = {
    require(urls.nonEmpty, "readRemote needs at least one URL")
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.http.impl", classOf[HttpRangeFileSystem].getName)
    hc.set("fs.https.impl", classOf[HttpsRangeFileSystem].getName)
    spark.read.parquet(urls: _*)
  }

  /** A8: CSV sink (header, overwrite) — the Access-extract side channel. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** JSONL sink (gzip) — the LLM-pipeline interchange format: one JSON
    * object per line, splittable across files (one file per partition),
    * the shape Common-Crawl-style corpora ship in.
    */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "gzip").json(path)

  /** JSONL scan with a DECLARED schema: at 100 TB, schema inference is a
    * full extra pass over the corpus before the first real job — the
    * schema is a contract the caller states, never something the engine
    * rediscovers per run. Unknown keys are dropped by the projection;
    * corrupt lines land in the standard `_corrupt_record` flow
    * (PERMISSIVE) so one bad line cannot kill a multi-hour scan.
    */
  def readJsonl(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC sink (zstd) — the second columnar at-rest format the engine
    * speaks natively. Same at-rest contract as the parquet sink:
    * columnar, splittable, predicate-pushdown-capable (ORC carries
    * min/max + bloom indexes per stripe), so a corpus interchanged with
    * ORC-native warehouses costs no conversion pass.
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "zstd").orc(path)

  /** ORC scan with a DECLARED schema — the [[readJsonl]] contract: the
    * caller states the schema, the engine never spends a discovery pass;
    * filters and column pruning push into the stripe reader exactly as
    * with parquet.
    */
  def readOrc(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** Bucketed-and-sorted at-rest layout: write `df` as an external table
    * hash-bucketed (and sorted within buckets) by `keys`. Two tables
    * written with the SAME keys and bucket count join with ZERO exchange
    * — the sort-merge join reads co-bucketed files directly — and
    * aggregations keyed by `keys` skip their shuffle too.
    *
    * This is the 100 TB answer for the engine's hottest join pattern:
    * every ISC-style query joins fact rows to per-household frames on
    * (ID, Year). Bucketing the processed layer by household ID turns
    * that recurring multi-TB shuffle into a one-time cost at write time,
    * amortized across every downstream query. Pick `numBuckets` so one
    * bucket ≈ one task's worth of data at the target scale (buckets are
    * the parallelism floor for bucket-local reads).
    *
    * Bucketing requires the table catalog (`saveAsTable`); `path` keeps
    * the data external so the layout is an explicit on-disk contract,
    * not a managed-warehouse implementation detail.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      path: String,
      keys: Seq[String],
      numBuckets: Int,
  ): Unit = {
    require(keys.nonEmpty, "bucketing needs at least one key column")
    // repartition on the bucket keys into exactly numBuckets tasks:
    // HashPartitioning and the bucket-id expression use the same
    // murmur3-pmod, so each task holds exactly one bucket and writes ONE
    // file — multi-file buckets would force Spark to re-SORT every
    // bucketed read before a merge join (no exchange, but a per-query
    // sort the sorted layout exists to amortize away)
    df.repartition(numBuckets, keys.map(col): _*)
      .write.mode("overwrite").format("parquet").option("path", path)
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
  }

  /** Re-attach an existing bucketed layout to the (in-memory) catalog —
    * the recovery path for a NEW session reading files a previous
    * session wrote with [[writeBucketed]]: bucket metadata lives in the
    * catalog, not the parquet footers, so a plain `spark.read.parquet`
    * over the same files silently loses the zero-exchange property. The
    * DDL re-registration pins (keys, numBuckets), which MUST match the
    * writing call — they are the on-disk contract. A caller that knows
    * the files' schema passes it; otherwise it is inferred, which costs a
    * job.
    */
  def registerBucketed(
      spark: SparkSession,
      table: String,
      path: String,
      keys: Seq[String],
      numBuckets: Int,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
  ): DataFrame = {
    if (!spark.catalog.tableExists(table)) {
      val s = schema.getOrElse(spark.read.parquet(path).schema)
      val cols = keys.map(k => s"`$k`").mkString(", ")
      spark.sql(
        s"""CREATE TABLE `$table` (${s.toDDL}) USING PARQUET
           |CLUSTERED BY ($cols) SORTED BY ($cols) INTO $numBuckets BUCKETS
           |LOCATION '$path'""".stripMargin)
    }
    spark.table(table)
  }
}
