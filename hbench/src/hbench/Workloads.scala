package hbench

import java.io.File

import scala.util.{Failure, Success, Try}

import graft.api.Api
import graft.engine.{RepoConfig, TableRepo}
import graft.meta.{MNull, Meta}
import graft.ops.{Classifier, CleanOps, Dedup, IdDecoder, Stats, StorageHandle}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

final case class OpResult(kind: String, seconds: Double, rows: Long, error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** One pass of a workload's loop. After a traced cycle's counters are
  * taken, `probes` computes its remaining per-layer numbers; `release` then
  * frees what the cycle kept (cache files, persisted frames).
  */
final case class CycleResult(seconds: Double, rows: Long, ops: Seq[OpResult],
    probes: () => Map[String, Double], release: () => Unit)

/** A closed-loop workload: one client thread repeats `cycle` until time is up. */
abstract class Workload(val spark: SparkSession, val tracer: Tracer, val work: File) {
  def inputs: Map[String, Any]
  /** The program's own set-up for the workload, timed for `setup_s`; it
    * returns what it built, so that the JIT cannot drop the work.
    */
  def programSetup(): AnyRef
  def cycle(index: Int): CycleResult

  private var nextOp = 0

  /** Time `body` as one op span, then check its output outside the timing.
    * A thrown error or a failed check marks the op failed.
    */
  protected def op[T](kind: String, rows: Long)(body: => T)(check: T => Option[String]): (OpResult, Option[T]) = {
    nextOp += 1
    val t0 = System.nanoTime()
    val out = Try(tracer.span(s"op:$kind", nextOp)(body))
    val secs = (System.nanoTime() - t0) / 1e9
    val error = out.flatMap(v => Try(check(v))) match {
      case Success(msg) => msg.map(m => s"$kind: output check failed: $m")
      case Failure(e) => Some(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
    }
    (OpResult(kind, secs, rows, error), out.toOption)
  }

  protected def expect(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  protected def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** The four metadata documents, parsed. */
final case class MetaDocs(tables: Meta, schema: Meta, commodities: Meta, household: Meta)

/** survey_session: one analyst session of six ops over a survey window that
  * crosses 1383, on a fresh Api and TableRepo with a fresh A9 cache
  * directory each time. The first op's build writes the cached
  * `Expenditures`; the five after it read them back.
  *
  * The raw tables are per-year parquet files under the work directory.
  */
final class SurveySession(spark: SparkSession, tracer: Tracer, work: File, seed: Long)
    extends Workload(spark, tracer, work) {
  import Fixture._

  private val (years, province) = Fixture.window(seed)
  private val survey: Survey = Fixture.survey(seed, years)
  private val rawDir = new File(work, "raw").getAbsolutePath
  private val tables = Seq("food", "durable", "household_information", "members_properties")

  private def rawSchema(table: String, year: Int): StructType = {
    val types = table match {
      case "food" | "durable" => Seq(LongType, LongType, DoubleType, IntegerType)
      case "household_information" => Seq(LongType, LongType)
      case "members_properties" => Seq(LongType, LongType, LongType)
    }
    StructType(rawColumns(table, year).zip(types).map { case (n, t) => StructField(n, t) })
  }

  private def writeRaw(): Unit = {
    val rows: Map[String, Seq[(Int, Row)]] = Map(
      "food" -> survey.lines.filterNot(_.durable).zipWithIndex
        .map { case (l, i) => l.year -> Row(l.id, l.code, l.expenditure, i % 3) },
      "durable" -> survey.lines.filter(_.durable).zipWithIndex
        .map { case (l, i) => l.year -> Row(l.id, l.code, l.expenditure, i % 3) },
      "household_information" -> survey.households.map(h => h.year -> Row(h.id, h.weight)),
      "members_properties" -> survey.households.flatMap(h =>
        h.ages.zipWithIndex.map { case (a, m) => h.year -> Row(h.id, (m + 1).toLong, a.toLong) }))
    // one write per naming era: COLnn files before 1383, DYCOLnn after
    for ((table, rs) <- rows) {
      val (before, after) = rs.partition(_._1 < RenameYear)
      for ((era, eraYear) <- Seq(before -> FirstYear, after -> RenameYear) if era.nonEmpty) {
        val schema = rawSchema(table, eraYear).add("_year", IntegerType)
        val data = era.map { case (y, r) => Row.fromSeq(r.toSeq :+ y) }
        spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
          .write.mode("append").partitionBy("_year").parquet(s"$rawDir/$table")
      }
    }
  }
  writeRaw()

  private val rawSize: Map[(String, Int), Long] = (for (t <- tables; y <- years)
    yield (t, y) -> new File(s"$rawDir/$t/_year=$y").listFiles().map(_.length).sum).toMap

  private def rawReader(table: String, year: Int): Option[DataFrame] =
    if (rawSize.contains((table, year)))
      Some(spark.read.schema(rawSchema(table, year)).parquet(s"$rawDir/$table/_year=$year"))
    else None

  private def parseDocs(): MetaDocs = tracer.span("meta") {
    MetaDocs(Meta.fromYaml(tablesYaml), Meta.fromYaml(schemaYaml),
      Meta.fromYaml(commoditiesYaml), Meta.fromYaml(householdYaml))
  }

  private def repo(docs: MetaDocs, cacheDir: String): TableRepo =
    new TableRepo(spark, docs.tables, docs.schema, rawReader,
      classifications = Map("Food_NonFood" -> docs.commodities("Food_NonFood")),
      householdMeta = docs.household,
      depSize = (t, y) => rawSize.get((t, y)),
      // every year takes its weights from household_information
      config = RepoConfig(cacheDir = Some(cacheDir), externalWeightsYearMax = FirstYear - 1))

  /** The per-year metadata compilers the engine and the decoders call,
    * called directly over the window's years.
    */
  private def metaCompile(docs: MetaDocs): Unit = {
    for (t <- tables; y <- years) CleanOps.compileSpec(docs.tables(t), y)
    Classifier.compile(docs.commodities("Food_NonFood"), years)
    Seq("Urban_Rural", "Province").foreach(a => IdDecoder.compile(docs.household, a, years))
  }

  /** Parse the documents, compile them for the window (which `TableRepo`
    * otherwise does inside its calls), and build the repository and API
    * over a cache directory that is never written.
    */
  def programSetup(): AnyRef = {
    val docs = parseDocs()
    metaCompile(docs)
    new Api(spark, repo(docs, new File(work, "cache/setup").getAbsolutePath))
  }

  private val rowsPerOp = survey.lines.size.toLong
  private val want = Map(
    "load_total" -> Expected.loadTotal(survey),
    "classify" -> Expected.foodNonFood(survey),
    "select" -> Expected.selectProvince(survey, province),
    "urban_rural" -> Expected.urbanRuralAverage(survey),
    "decile" -> Expected.decileAverage(survey),
    "oecd" -> Expected.oecdAdjusted(survey))

  def inputs: Map[String, Any] = Map(
    "years" -> years.mkString(","), "select_province" -> province,
    "households_per_year" -> Households, "expenditure_rows" -> rowsPerOp,
    "raw_leaf_scans_first_op" -> 2 * years.size, "ops_per_session" -> want.size)

  def cycle(index: Int): CycleResult = {
    val cache = new File(work, s"cache/$index")
    val t0 = System.nanoTime()
    val docs = parseDocs()
    val api = new Api(spark, repo(docs, cache.getAbsolutePath))
    // the first load writes the A9 cache, every later one reads it
    var phase = "build_write"
    def load(table: String): DataFrame = {
      val df = tracer.span(phase)(api.loadTable(table, years))
      phase = "build_read"
      df
    }
    def total(): DataFrame = load("Total_Expenditure")
    def session(kind: String)(build: => DataFrame): OpResult =
      op(kind, rowsPerOp) {
        tracer.planAndRun(build)(_.collect())
      }(rows => expect("digest", Expected.digestRows(rows, "Gross_Expenditure"), want(kind)))._1

    val ops = Seq(
      session("load_total")(total()),
      session("classify") {
        val exp = load("Expenditures")
        tracer.span("decorate")(api.addClassification(exp, "Food_NonFood"))
          .groupBy("Year", "Food_NonFood").agg(sum("Gross_Expenditure").as("Gross_Expenditure"))
      },
      session("select") {
        val t = total()
        tracer.span("decorate")(api.select(t, "Province", province))
      },
      session("urban_rural") {
        val t = total()
        tracer.span("decorate") {
          api.averageTable(api.addAttribute(t, "Urban_Rural"), Seq("Gross_Expenditure"),
            Seq("Year", "Urban_Rural"))
        }
      },
      session("decile") {
        val t = total()
        tracer.span("decorate") {
          val d = Stats.addDecile(api.addWeight(t), "Gross_Expenditure")
          api.averageTable(d, Seq("Gross_Expenditure"), Seq("Year", "Decile"))
        }
      },
      session("oecd") {
        val t = total()
        tracer.span("decorate")(api.adjustByEquivalenceScale(t, Seq("Gross_Expenditure"), "OECD"))
      })
    val secs = elapsed(t0)
    def probes(): Map[String, Double] = {
      val c0 = System.nanoTime()
      metaCompile(docs)
      val files = Files.walk(cache).filter(_.isFile)
      Map("meta.compile_s" -> elapsed(c0),
        "engine.cache_files" -> files.size.toDouble,
        "engine.cache_write_bytes" -> files.map(_.length).sum.toDouble)
    }
    CycleResult(secs, ops.map(_.rows).sum, ops, () => probes(), () => Files.delete(cache))
  }
}

/** near_dup_batch: MinHash, SimHash and cosine near-duplicate pairs plus
  * duplicate clusters under one StorageHandle, released after each cycle.
  */
final class NearDupBatch(spark: SparkSession, tracer: Tracer, work: File, seed: Long)
    extends Workload(spark, tracer, work) {
  import Fixture.{Dim, Vectors}

  private val corpus = Fixture.corpus(seed)
  private val docPairs = Fixture.groupPairs(corpus.docGroups)
  private val vecPairs = Fixture.groupPairs(corpus.vectorGroups)
  private val docsPath = new File(work, "documents").getAbsolutePath
  private val vecsPath = new File(work, "embeddings").getAbsolutePath
  private val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  spark.createDataFrame(java.util.Arrays.asList(corpus.docs.map { case (i, t) => Row(i, t) }: _*), docSchema)
    .write.parquet(docsPath)
  spark.createDataFrame(java.util.Arrays.asList(corpus.vectors.map { case (i, v) => Row(i, v.toSeq) }: _*),
    vecSchema).write.parquet(vecsPath)

  /** The API (whose surface used here never reaches the table engine) and
    * a fresh StorageHandle.
    */
  private def open(): (Api, StorageHandle) =
    (new Api(spark, new TableRepo(spark, MNull, MNull, (_, _) => None)), StorageHandle())

  /** Like the survey's set-up, this reads no input: the corpora are opened
    * inside the cycle, as the survey's raw tables are read inside its ops.
    */
  def programSetup(): AnyRef = {
    val (api, handle) = open()
    handle.release(blocking = true)
    api
  }

  def inputs: Map[String, Any] = Map(
    "docs" -> Fixture.Docs, "doc_duplicate_pairs" -> docPairs.size,
    "vectors" -> Vectors, "dim" -> Dim, "vector_duplicate_pairs" -> vecPairs.size)

  private def pairSet(rows: Array[Row]): Set[(Long, Long)] =
    rows.map(r => (r.getLong(0), r.getLong(1))).toSet

  private def checkPairs(want: Set[(Long, Long)])(rows: Array[Row]): Option[String] = {
    val got = pairSet(rows)
    if (got == want) None
    else Some(s"${got.size} pairs, want ${want.size}; " +
      s"missing ${(want -- got).take(3)}, extra ${(got -- want).take(3)}")
  }

  /** Clusters are compared as a partition of the ids, whatever the labels. */
  private def checkClusters(rows: Array[Row]): Option[String] = {
    val got = rows.groupBy(_.get(1)).values.map(_.map(_.getLong(0)).toSet).filter(_.size > 1).toSet
    val want = corpus.docGroups.map(_.toSet).toSet
    expect("clusters", got.size -> rows.length, want.size -> corpus.docs.size)
      .orElse(if (got == want) None else Some("cluster membership differs"))
  }

  def cycle(index: Int): CycleResult = {
    val t0 = System.nanoTime()
    val (api, handle) = open()
    val docs = spark.read.schema(docSchema).parquet(docsPath)
    val vecs = spark.read.schema(vecSchema).parquet(vecsPath)
    val n = Fixture.Docs.toLong
    val (minhash, mhPairs) = op("minhash", n) {
      val p = tracer.span("dedup")(api.nearDuplicatePairs(docs, "minhash", handle, threshold = 0.8))
      p -> tracer.planAndRun(p)(_.collect())
    }(r => checkPairs(docPairs)(r._2))
    val (clusters, _) = op("clusters", n) {
      val pairs = mhPairs.map(_._1).getOrElse(throw new IllegalStateException("no minhash pairs"))
      val c = tracer.span("dedup")(api.duplicateClusters(docs, pairs, handle))
      tracer.planAndRun(c)(_.collect())
    }(checkClusters)
    val (simhash, _) = op("simhash", n) {
      val p = tracer.span("dedup")(api.nearDuplicatePairs(docs, "simhash", handle, threshold = 0.9))
      tracer.planAndRun(p)(_.collect())
    }(checkPairs(docPairs))
    val (cosine, _) = op("cosine", Vectors.toLong) {
      val p = tracer.span("dedup")(api.nearDuplicatePairs(vecs, "cosine", handle,
        idCol = "vec_id", dim = Dim, threshold = 0.9))
      tracer.planAndRun(p)(_.collect())
    }(checkPairs(vecPairs))
    val secs = elapsed(t0)
    def probes(): Map[String, Double] = {
      // what the cycle left persisted, before the candidate count adds to it
      val cached = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      val candidates = Dedup.minHashPairs(docs, handle = handle).count()
      val verified = mhPairs.map(_._2.length.toLong).getOrElse(0L)
      Map("dedup.cached_bytes" -> cached.toDouble,
        "dedup.candidate_pairs" -> candidates.toDouble,
        "dedup.verified_pairs" -> verified.toDouble)
    }
    CycleResult(secs, n, Seq(minhash, clusters, simhash, cosine), () => probes(),
      () => handle.release(blocking = true))
  }
}

object Files {
  def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) :+ f else Seq(f)

  def delete(f: File): Unit = walk(f).foreach(_.delete())
}
