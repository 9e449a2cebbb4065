package graft.engine

import graft.SparkSpec
import graft.meta._
import org.apache.spark.sql.functions._

/** End-to-end engine test over HBSIR-shaped fixtures (FIXTURES.md §2):
  * raw -> clean -> pipeline -> schema-DAG union -> weights -> decoders ->
  * weighted statistics, asserting hand-computed golden numbers in the
  * shape of the reference's ISC test
  * (tests/test_package/package/test_by_examples.py:7-69).
  */
class TableRepoSpec extends SparkSpec {

  import HbsFixtures.{U1, U2, R1, R2}

  private def repo(cacheDir: Option[String] = None) = HbsFixtures.repo(spark, cacheDir)

  test("original table builds through clean + pipeline") {
    val food = repo().table("food", Seq(1400))
    assert(food.columns.toSet ==
      Set("ID", "Code", "Expenditure", "Year", "Table_Name", "Duration"))
    assert(food.count() == 4)
    assert(food.where(col("Duration") === 30).count() == 4)
  }

  test("schema DAG: Expenditures union + annualization") {
    val exp = repo().table("Expenditures", Seq(1400))
    val rows = exp.select("ID", "Code", "Gross_Expenditure")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows == Set(
      (U1, 11100L, 3600.0), (U1, 21000L, 1200.0),
      (U2, 11200L, 7200.0), (U2, 31000L, 720.0),
      (R1, 12000L, 1800.0), (R2, 32000L, 360.0)))
  }

  test("Total_Expenditure groupby-sum") {
    val tot = repo().table("Total_Expenditure", Seq(1400))
      .collect().map(r => r.getAs[Long]("ID") -> r.getAs[Double]("Gross_Expenditure")).toMap
    assert(tot == Map(U1 -> 4800.0, U2 -> 7920.0, R1 -> 1800.0, R2 -> 360.0))
  }

  test("Number_of_Members / Equivalence_Scale external functions") {
    val nm = repo().table("Number_of_Members", Seq(1400))
      .collect().map(r => r.getAs[Long]("ID") ->
        ((r.getAs[Long]("Members"), r.getAs[Long]("Adults"), r.getAs[Long]("Childs")))).toMap
    assert(nm(U1) == ((2L, 1L, 1L)))
    assert(nm(R1) == ((3L, 2L, 1L)))
    val es = repo().table("Equivalence_Scale", Seq(1400))
    assert(es.columns.contains("OECD_Modified"))
  }

  test("weights from household_information (year > 1395)") {
    val w = repo().weights(Seq(1400)).collect()
      .map(r => r.getAs[Long]("ID") -> r.getAs[Long]("Weight")).toMap
    assert(w == Map(U1 -> 2L, U2 -> 3L, R1 -> 4L, R2 -> 1L))
  }

  test("golden ISC-style pipeline: classify -> weights -> weighted mean") {
    val r = repo()
    val exp = r.table("Expenditures", Seq(1400))
    val classified = r.addClassification(exp, MStr("Food_NonFood"))
    // household-level sums per Food_NonFood
    val hh = classified.groupBy("Year", "ID", "Food_NonFood")
      .agg(sum("Gross_Expenditure").as("Gross_Expenditure"))
    val weighted = r.addWeights(hh)
    val withUr = r.addAttribute(weighted, MStr("Urban_Rural"))
    val summary = withUr.groupBy("Food_NonFood", "Urban_Rural")
      .agg((sum(col("Gross_Expenditure") * col("Weight")) /
        lit(5.0)).as("mean")) // weight sums: Urban 2+3, Rural 4+1
      .collect()
      .map(row => (row.getString(0), row.getString(1)) -> row.getDouble(2)).toMap
    assert(summary == Map(
      ("Food", "Urban") -> 5760.0,
      ("NonFood", "Urban") -> 912.0,
      ("Food", "Rural") -> 1440.0,
      ("NonFood", "Rural") -> 72.0))
  }

  test("missing classification fill defaults to NonFood") {
    val r = repo()
    val exp = r.table("Expenditures", Seq(1400))
    val classified = r.addClassification(exp, MStr("Food_NonFood"))
    val nf = classified.where(col("Code") >= 20000)
      .select("Food_NonFood").distinct().collect().map(_.getString(0)).toSeq
    assert(nf == Seq("NonFood"))
  }

  test("D2 attribute decode + selectBy filter pushdown") {
    val r = repo()
    val hh = r.table("household_information", Seq(1400))
    val withProv = r.addAttribute(hh, MStr("Province"))
    val provs = withProv.collect()
      .map(row => row.getAs[Long]("ID") -> row.getAs[String]("Province")).toMap
    assert(provs(U1) == "Tehran" && provs(R1) == "Gilan")
    assert(r.selectBy(hh, "Urban_Rural", "Urban").count() == 2)
  }

  test("withLocalOverrides patches one leaf without restating the doc") {
    // local override flips food's EXPENDITURE type float -> integer and
    // changes Duration to 31; everything else (columns, DAG) untouched
    val local = repo().withLocalOverrides(
      localTables = Meta.fromYaml("""
food:
  columns:
    EXPENDITURE: {type: integer}
"""),
      localSchema = Meta.fromYaml("""
food:
  instructions:
    - add_year
    - add_table_name
    - create_column: {name: Duration, type: numerical, expression: 31}
"""))
    val food = local.table("food", Seq(1400))
    assert(food.schema("Expenditure").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(food.where(col("Duration") === 31).count() == 4)
    // untouched table unaffected
    assert(local.table("durable", Seq(1400)).schema("Expenditure").dataType ==
      org.apache.spark.sql.types.DoubleType)
  }

  test("A9 cache: cache_result table persists and is reused") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cache").toString
    val r = repo(cacheDir = Some(dir))
    r.table("Expenditures", Seq(1400)).count()
    val cached = new java.io.File(dir).listFiles().filter(_.getName.startsWith("Expenditures_1400_"))
    assert(cached.length == 1)
    // second load goes through the cache and yields identical rows
    val again = r.table("Expenditures", Seq(1400))
    assert(again.count() == 6)
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("A9 cache hit launches no job and keeps the year proof") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cache_hit").toString
    val years = Seq(1398, 1399, 1400)
    val built = repo(cacheDir = Some(dir)).table("Expenditures", years)
    val want = rowsOf(built)
    // the read-back after the write carries the year proof
    assert(TableRepo.provenYears(built) == Some(years))
    var hit: org.apache.spark.sql.DataFrame = null
    // a NEW repo over the same directory, as a later session opens it
    val jobs = countJobs { hit = repo(cacheDir = Some(dir)).table("Expenditures", years) }
    assert(jobs == 0, s"a cache hit must read the manifest, not infer the schema ($jobs jobs)")
    assert(TableRepo.provenYears(hit) == Some(years))
    assert(rowsOf(hit) == want)
  }

  test("A9 entry without a manifest is a miss and is rebuilt") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cache_old").toString
    val want = rowsOf(repo(cacheDir = Some(dir)).table("Expenditures", Seq(1400)))
    val entry = new java.io.File(dir).listFiles().filter(_.getName.startsWith("Expenditures_1400_")).head
    // replace the entry with other data and no manifest, as an entry of
    // an older format or a write cut short would leave it
    spark.range(3).toDF("bogus").write.mode("overwrite").parquet(entry.getPath)
    assert(!new java.io.File(entry, "_graft_manifest.json").exists())
    val rebuilt = repo(cacheDir = Some(dir)).table("Expenditures", Seq(1400))
    assert(rowsOf(rebuilt) == want)
    assert(new java.io.File(entry, "_graft_manifest.json").exists())
  }

  test("year proof: the plan proves a repo frame's years, not a local frame's") {
    import spark.implicits._
    val r = repo()
    val years = Seq(1398, 1399, 1400)
    val tot = r.table("Total_Expenditure", years)
    assert(TableRepo.provenYears(tot) == Some(years))
    // a filter on another column leaves the proof (a superset is safe)
    assert(TableRepo.provenYears(tot.where(col("ID") === U1)) == Some(years))
    // every filter on the year alone narrows it
    assert(TableRepo.provenYears(tot.where(col("Year").isin(1399, 1400, 1401))) == Some(Seq(1399, 1400)))
    assert(TableRepo.provenYears(tot.where(col("Year") =!= 1399)) == Some(Seq(1398, 1400)))
    assert(TableRepo.provenYears(tot.where(col("Year") > 1398)) == Some(Seq(1399, 1400)))
    assert(TableRepo.provenYears(tot.where(col("Year").between(1398, 1399))) == Some(Seq(1398, 1399)))
    assert(TableRepo.provenYears(tot.where(!col("Year").isin(1398, 1400))) == Some(Seq(1399)))
    assert(TableRepo.provenYears(tot.where(col("Year").cast("string") =!= "1400")) == Some(Seq(1398, 1399)))
    assert(TableRepo.provenYears(tot.where(col("Year") > 1400)) == Some(Seq.empty))
    // a filter constraint propagation cannot see leaves no proof
    assert(TableRepo.provenYears(tot.where(col("Year") > rand() * 3000)).isEmpty)
    // a locally built frame proves nothing; the probe reads the data
    val local = Seq((1399, U1), (1400, U2), (1400, R1)).toDF("Year", "ID")
    assert(TableRepo.provenYears(local).isEmpty)
    assert(r.distinctYears(local) == Seq(1399, 1400))
  }

  test("A9 cache with bucketed layout: cached loads read bucketed and skip shuffles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val dir = java.nio.file.Files.createTempDirectory("graft_cache_bucketed").toString
    val cfg = RepoConfig(cacheDir = Some(dir),
      cacheBucketKeys = Seq("ID"), cacheBucketCount = 4)
    val r = HbsFixtures.repo(spark, config = Some(cfg))
    // first load builds + writes the bucketed cache entry
    assert(r.table("Expenditures", Seq(1400)).count() == 6)
    // plan-shape assertions need the real tree and no broadcast escape
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def exchanges(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      // cached read: groupBy on the bucket key must not shuffle
      val cached = r.table("Expenditures", Seq(1400))
      assert(exchanges(cached.groupBy("ID").count()).isEmpty,
        "groupBy on the bucket key of a bucket-cached table must not shuffle")
      // a NEW session would find files but no catalog entry: simulate by
      // dropping the catalog table (external — files survive), then load
      // again through readCache's re-registration path
      val t = spark.catalog.listTables().collect()
        .map(_.name).filter(_.startsWith("graft_cache_expenditures_1400"))
      assert(t.length == 1, s"expected one registered cache table, got ${t.toSeq}")
      spark.sql(s"DROP TABLE ${t.head}")
      var recovered: org.apache.spark.sql.DataFrame = null
      val jobs = countJobs { recovered = r.table("Expenditures", Seq(1400)) }
      assert(jobs == 0, s"re-attaching a bucketed entry must take its schema from the manifest ($jobs jobs)")
      assert(recovered.count() == 6)
      assert(exchanges(recovered.groupBy("ID").count()).isEmpty,
        "re-registered bucketed cache must keep the zero-shuffle property")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("C3 add_weights as a pipeline instruction") {
    val r = HbsFixtures.repo(spark).withExtraSchemas(Meta.fromYaml("""
Weighted_Total:
  table_list: Total_Expenditure
  instructions:
    - add_weights
"""))
    val wt = r.table("Weighted_Total", Seq(1400))
    assert(wt.columns.contains("Weight"))
    val w = wt.collect().map(row => row.getAs[Long]("ID") -> row.getAs[Long]("Weight")).toMap
    assert(w(HbsFixtures.U1) == 2L && w(HbsFixtures.R1) == 4L)
  }

  test("C17 multi-year concat unions per-year builds") {
    val multi = repo().table("Expenditures", Seq(1399, 1400))
    assert(multi.count() == 12) // same fixture rows built for both years
    assert(multi.select("Year").distinct().count() == 2)
  }

  test("external weights source used for years <= 1395") {
    import spark.implicits._
    val ext = Seq((1395, U1, 7L), (1395, U2, 9L)).toDF("Year", "ID", "Weight")
    val r = new TableRepo(
      spark,
      tablesMeta = Meta.fromYaml(HbsFixtures.tablesYaml),
      schemaMeta = Meta.fromYaml(HbsFixtures.schemaYaml),
      rawReader = (n, _) => HbsFixtures.raw(spark)(n),
      classifications = Map.empty,
      householdMeta = Meta.fromYaml(HbsFixtures.householdYaml),
      externalWeights = Some(ext),
    )
    val w = r.weights(Seq(1395)).collect()
      .map(row => row.getAs[Long]("ID") -> row.getAs[Long]("Weight")).toMap
    assert(w == Map(U1 -> 7L, U2 -> 9L))
    // mixed years: 1395 from external, 1400 from household_information
    val mixed = r.weights(Seq(1395, 1400))
    assert(mixed.count() == 6)
  }

  test("weights adjusted for household size") {
    val w = repo().weights(Seq(1400), adjustForHouseholdSize = true).collect()
      .map(r => r.getAs[Long]("ID") -> r.getAs[Long]("Weight")).toMap
    assert(w(U1) == 4L) // 2 * 2 members
    assert(w(R1) == 12L) // 4 * 3 members
  }
}
