package graft.engine

import graft.meta._
import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** E1/E2/C16/C17/A9 — the table engine: turns (table name, years) into a
  * lazy DataFrame by recursing the metadata schema DAG
  * (hbsir/core/data_engine.py:462-679).
  *
  * A table is either:
  *   - an *original* table (a key of `tablesMeta`): raw source -> cleaned
  *     (CleanOps) -> its own `instructions` pipeline; or
  *   - a *standard* table (a key of `schemaMeta` with `table_list`): the
  *     year-resolved dependency tables built recursively, unioned by name
  *     (the reference's pd.concat == UNION ALL with null-fill), then this
  *     table's `instructions` pipeline.
  *
  * Everything stays ONE Catalyst plan per (table, year) — the reference's
  * eager step-by-step materialization becomes lazy plan construction, so
  * predicate pushdown and column pruning reach the leaf scans of the whole
  * DAG. Multi-year = union of per-year plans (partition-prunable when the
  * storage layout is Year-partitioned).
  *
  * The A9 result cache persists a built table as parquet keyed by a
  * dependency fingerprint (schema tree + dependency sizes), mirroring
  * data_engine.py:515-610's size-based invalidation, with a manifest of
  * its schema and years ([[CacheManifest]]) so that a hit runs no job.
  */
final case class RepoConfig(
    resolver: ResolverSettings = ResolverSettings(),
    /** Weight source flips from external parquet to household_information
      * after this year (data_engine.py:715-719).
      */
    externalWeightsYearMax: Int = 1395,
    cacheDir: Option[String] = None,
    /** Tables NOT safe to broadcast in C12 joins. */
    factTables: Set[String] = Set.empty,
    /** E18 (table, year) availability: table name -> Argham year spec
      * (parsing_utils.py:104-143). Unavailable years are silently
      * skipped from loads; tables absent from the map are available for
      * all years.
      */
    availability: Map[String, Argham] = Map.empty,
    /** When non-empty, A9-cached tables whose schema contains every key
      * are written BUCKETED AND SORTED by these keys
      * ([[graft.sources.RawSources.writeBucketed]]) and read back through
      * the catalog, so every downstream join or aggregation keyed by a
      * superset of the keys skips its shuffle — the at-rest answer to
      * the engine's hottest pattern (fact ⋈ per-household frames on
      * (ID, Year), reference data_engine.py:439,785). Pick
      * `cacheBucketCount` so one bucket ≈ one task's data at the target
      * scale; it is the parallelism floor for bucket-local reads.
      * Cached tables MISSING a key column fall back to plain parquet.
      */
    cacheBucketKeys: Seq[String] = Seq.empty,
    cacheBucketCount: Int = 16,
    /** Driver-side parallelism for multi-year plan BUILDS (C17): the
      * per-year metadata compile + analysis chains are independent, and
      * building them sequentially makes the driver the bottleneck at
      * archive width (~0.9s/year × 39 years measured). Builds are pure
      * plan construction; their only jobs are the per-year A9 cache
      * writes, which are thread-safe in Spark and overlap when two or
      * more years are requested. Concurrency changes wall-clock only,
      * never the composed plan. 1 disables.
      */
    buildParallelism: Int = math.min(8, Runtime.getRuntime.availableProcessors()),
)

class TableRepo(
    spark: SparkSession,
    tablesMeta: Meta,
    schemaMeta: Meta,
    rawReader: (String, Int) => Option[DataFrame],
    classifications: Map[String, Meta] = Map.empty,
    householdMeta: Meta = MNull,
    externalWeights: Option[DataFrame] = None,
    /** Dependency size probe for the A9 cache fingerprint (e.g. raw file
      * length); None -> fingerprint on metadata only.
      */
    depSize: (String, Int) => Option[Long] = (_, _) => None,
    config: RepoConfig = RepoConfig(),
) extends Pipeline.TableProvider {

  private val originalTables: Set[String] =
    tablesMeta match { case m: MMap => m.keys.map(_.asString).toSet; case _ => Set.empty }

  // the bucketed layout's superset-key joins (the hottest pattern:
  // (Year, ID) over ID buckets) only skip their shuffle under this conf;
  // a session without it still gets correct results but silently pays
  // the shuffles the layout exists to remove — warn once at build time
  if (config.cacheBucketKeys.nonEmpty &&
      spark.conf.get("spark.sql.requireAllClusterKeysForCoPartition", "true") == "true")
    System.err.println("[graft] WARN: RepoConfig.cacheBucketKeys is set but " +
      "spark.sql.requireAllClusterKeysForCoPartition=true; joins on a superset " +
      "of the bucket keys will still shuffle — set it to false (see Verify.scala)")

  // ------------------------------------------------------------------ build

  /** E18: the requested years restricted to the table's availability
    * spec — the reference's `create_table_year_pairs` silently drops
    * unavailable (table, year) pairs (parsing_utils.py:104-143).
    */
  private def availableYears(name: String, years: Seq[Int]): Seq[Int] =
    YearParser.tableYearPairs(Seq(name), years, config.availability).map(_._2)

  def table(name: String, years: Seq[Int]): DataFrame = {
    val parts = buildYears(availableYears(name, years))(y => load(name, y))
    require(parts.nonEmpty, s"table $name has no data for years $years")
    CleanOps.unionAll(parts)
  }

  /** Year-order-preserving, optionally parallel per-year build (see
    * [[RepoConfig.buildParallelism]]).
    */
  private def buildYears(years: Seq[Int])(build: Int => Option[DataFrame]): Seq[DataFrame] =
    if (years.size < 2 || config.buildParallelism <= 1) years.flatMap(build(_))
    else {
      import scala.collection.parallel.CollectionConverters._
      import scala.collection.parallel.ForkJoinTaskSupport
      val par = years.par
      val pool = new java.util.concurrent.ForkJoinPool(config.buildParallelism)
      try {
        par.tasksupport = new ForkJoinTaskSupport(pool)
        par.map(build(_)).seq.flatten
      } finally pool.shutdown()
    }

  /** E1 `form="raw"`: the raw source verbatim. */
  def rawTable(name: String, years: Seq[Int]): DataFrame = {
    val parts = availableYears(name, years).flatMap(y => rawReader(name, y))
    require(parts.nonEmpty, s"table $name has no raw data for years $years")
    CleanOps.unionAll(parts)
  }

  /** E1 `form="cleaned"`: typed/renamed, values untouched — no pipeline. */
  def cleanedTable(name: String, years: Seq[Int]): DataFrame = {
    val parts = availableYears(name, years).flatMap { y =>
      rawReader(name, y).map(raw =>
        CleanOps.cleanTable(raw, CleanOps.compileSpec(tablesMeta(name), y, config.resolver)))
    }
    require(parts.nonEmpty, s"table $name has no data for years $years")
    CleanOps.unionAll(parts)
  }

  /** E2: a repo with extra ad-hoc schema entries overlaid (user-registered
    * derived tables, api.py:194-257).
    */
  def withExtraSchemas(extra: Meta): TableRepo = {
    val merged = (schemaMeta, extra) match {
      case (a: MMap, b: MMap) => MMap(a.entries.filterNot(e => b.keys.contains(e._1)) ++ b.entries)
      case _ => extra
    }
    new TableRepo(spark, tablesMeta, merged, rawReader, classifications,
      householdMeta, externalWeights, depSize, config)
  }

  /** Local metadata overrides merged RECURSIVELY over the packaged docs
    * (the reference's local-metadata mechanism, metadata_reader.py:342-353
    * with the leaf-level settings semantic of :215-253): a local doc can
    * patch one column's type or one table's instructions without
    * restating the whole entry — unlike [[withExtraSchemas]], which
    * replaces top-level entries wholesale.
    */
  def withLocalOverrides(localTables: Meta = MNull, localSchema: Meta = MNull): TableRepo =
    new TableRepo(
      spark,
      if (localTables.isNull) tablesMeta else Meta.deepMerge(tablesMeta, localTables),
      if (localSchema.isNull) schemaMeta else Meta.deepMerge(schemaMeta, localSchema),
      rawReader, classifications, householdMeta, externalWeights, depSize, config)

  /** Build one (table, year); None when the raw source is absent (the
    * reference drops empty tables from concats, data_engine.py:643-645).
    */
  def load(name: String, year: Int): Option[DataFrame] = {
    val tableSchema = schemaMeta.get(name)
      .map(m => new VersionResolver(m, year, config.resolver).getVersion)
      .getOrElse(MNull)
    if (originalTables(name)) {
      rawReader(name, year).map { raw =>
        val spec = CleanOps.compileSpec(tablesMeta(name), year, config.resolver)
        applyInstructions(CleanOps.cleanTable(raw, spec), tableSchema, name, year)
      }
    } else if (tableSchema.isNull) {
      throw new NoSuchElementException(s"Table name $name is not available in schema")
    } else {
      val cached = if (useCache(tableSchema)) readCache(name, year) else None
      cached.orElse {
        val deps = tableSchema.get("table_list") match {
          case Some(MStr(t))     => Seq(t)
          case Some(MList(ts))   => ts.map(_.asStr)
          case other             => throw new IllegalArgumentException(s"bad table_list: $other")
        }
        val children = deps.flatMap(d => load(d, year))
        if (children.isEmpty) None
        else {
          val built = applyInstructions(CleanOps.unionAll(children), tableSchema, name, year)
          if (useCache(tableSchema)) Some(writeCache(built, name, year)) else Some(built)
        }
      }
    }
  }

  private def applyInstructions(df: DataFrame, tableSchema: Meta, name: String, year: Int): DataFrame =
    tableSchema.get("instructions") match {
      case None | Some(MNull) => df
      case Some(instr) =>
        Pipeline.run(df, Pipeline.compile(instr), Pipeline.Context(year, name, this))
    }

  // ------------------------------------------------------------------ cache (A9)

  private def useCache(tableSchema: Meta): Boolean =
    config.cacheDir.isDefined && tableSchema.get("cache_result").exists(_.asBool)

  /** Fingerprint = hash of the resolved schema subtree + every transitive
    * dependency's (name, size) + the BUCKET LAYOUT config — a change in
    * metadata or in any upstream source invalidates the cache, like the
    * reference's dependency-yaml comparison (data_engine.py:559-582).
    * The layout is part of the fingerprint because (keys, numBuckets)
    * are an on-disk contract: re-registering existing files under a
    * DIFFERENT bucket count would make Spark's bucket-pruned reads
    * silently drop files (buckets are tabulated 0 until numBuckets), and
    * a different key would skip shuffles against a partitioning the
    * files don't have — a layout change must be a cache MISS, never a
    * misread.
    */
  private def fingerprint(name: String, year: Int): String = {
    def depsOf(n: String): Seq[String] = schemaMeta.get(n)
      .map(m => new VersionResolver(m, year, config.resolver).getVersion)
      .flatMap(_.get("table_list")).map {
        case MStr(t)   => Seq(t)
        case MList(ts) => ts.map(_.asStr)
        case _         => Seq.empty
      }.getOrElse(Seq.empty)
    val seen = scala.collection.mutable.LinkedHashSet[String](name)
    var frontier = depsOf(name)
    while (frontier.nonEmpty) {
      frontier.foreach(seen.add)
      // prune against seen: a diamond-shaped DAG would otherwise
      // multiply duplicate entries per level (exponential walk), and a
      // cyclic table_list would never terminate
      frontier = frontier.flatMap(depsOf).distinct.filterNot(seen.contains)
    }
    val parts = seen.toSeq.sorted.map { t =>
      val schemaStr = schemaMeta.get(t).map(m =>
        new VersionResolver(m, year, config.resolver).getVersion.toString).getOrElse("")
      s"$t:${depSize(t, year).getOrElse(-1L)}:${schemaStr.hashCode}"
    }
    val layout =
      if (config.cacheBucketKeys.isEmpty) ""
      else s"|bucket:${config.cacheBucketKeys.mkString(",")}:${config.cacheBucketCount}"
    java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(parts.mkString("|") + layout).toLong & 0xFFFFFFFFL)
  }

  private def cachePath(name: String, year: Int): String =
    s"${config.cacheDir.get}/${name}_${year}_${fingerprint(name, year)}.parquet"

  /** Catalog identifier for a bucketed cache entry. The fingerprint is
    * part of the name, so a metadata/upstream change registers a NEW
    * table rather than silently serving a stale layout.
    */
  private def cacheTableName(name: String, year: Int): String =
    s"graft_cache_${name}_${year}_${fingerprint(name, year)}".toLowerCase

  private def bucketKeysFor(df: DataFrame): Seq[String] =
    if (config.cacheBucketKeys.nonEmpty &&
      config.cacheBucketKeys.forall(df.columns.contains)) config.cacheBucketKeys
    else Seq.empty

  private def readCache(name: String, year: Int): Option[DataFrame] = {
    val p = cachePath(name, year)
    CacheManifest.read(spark, p).map(openCache(p, name, year, _))
  }

  private def writeCache(df: DataFrame, name: String, year: Int): DataFrame = {
    val p = cachePath(name, year)
    val keys = bucketKeysFor(df)
    if (keys.nonEmpty)
      graft.sources.RawSources.writeBucketed(
        df, cacheTableName(name, year), p, keys, config.cacheBucketCount)
    else df.write.mode("overwrite").parquet(p)
    // written last: an entry without its manifest is a miss, so a write
    // cut short is rebuilt rather than read
    val manifest = CacheManifest(df.schema, TableRepo.provenYears(df))
    CacheManifest.write(spark, p, manifest)
    openCache(p, name, year, manifest)
  }

  /** Open a cache entry with the schema its manifest recorded — Spark's
    * parquet source would otherwise run a job to infer it — and re-apply
    * the year proof the built plan carried, so the decorators downstream
    * of a cached table still read their years off the plan. On the
    * entry's own data the filter removes nothing.
    */
  private def openCache(p: String, name: String, year: Int, m: CacheManifest): DataFrame = {
    val keys = config.cacheBucketKeys
    val df =
      // bucket metadata lives in the catalog, not the files: re-attach it
      // (a no-op when this session wrote the entry). Plain-parquet
      // fallback entries — key column absent — read as plain parquet
      if (keys.nonEmpty && keys.forall(m.schema.fieldNames.contains))
        graft.sources.RawSources.registerBucketed(
          spark, cacheTableName(name, year), p, keys, config.cacheBucketCount, Some(m.schema))
      else spark.read.schema(m.schema).parquet(p)
    m.years.fold(df)(ys => df.where(col("Year").isin(ys: _*)))
  }

  // ------------------------------------------------------------------ weights (E6)

  /** The years a table holds — the set every per-year decoder, weight
    * and scale compiles metadata for (the reference iterates the same
    * set, data_engine.py:782-785). Read off the plan when it proves the
    * set ([[TableRepo.provenYears]]), as the repo's tables do through
    * `add_year`'s literal and the union of per-year builds. Only
    * a plan that proves nothing (a locally built frame, or constraint
    * propagation switched off) costs a distinct-years job.
    */
  private[graft] def distinctYears(df: DataFrame, yearCol: String = "Year"): Seq[Int] =
    TableRepo.provenYears(df, yearCol).getOrElse {
      val years = df.select(col(yearCol).cast("int").as("_y")).distinct().collect()
      // a null year (missing column null-filled by a union, or a value
      // that failed the int cast) must be a diagnosable error, not a bare
      // NullPointerException out of Row.getInt
      require(years.forall(!_.isNullAt(0)),
        s"column $yearCol contains null/non-numeric years — cannot resolve per-year metadata")
      years.map(_.getInt(0)).toSeq.sorted
    }

  /** Per-year weight table (Year, ID, Weight): external parquet for years
    * <= externalWeightsYearMax, household_information.Weight after
    * (data_engine.py:700-754).
    */
  def weights(years: Seq[Int], adjustForHouseholdSize: Boolean = false): DataFrame = {
    val parts = years.map { y =>
      if (y <= config.externalWeightsYearMax) {
        val ext = externalWeights.getOrElse(
          throw new IllegalStateException(s"no external weights source for year $y"))
        ext.where(col("Year") === y).select(col("Year"), col("ID"), col("Weight"))
      } else {
        val hh = load("household_information", y).getOrElse(
          throw new IllegalStateException(s"household_information missing for $y"))
        hh.select(lit(y).as("Year"), col("ID"), col("Weight"))
      }
    }
    val w = CleanOps.unionAll(parts)
    if (!adjustForHouseholdSize) w
    else {
      val members = table("Number_of_Members", years).select("Year", "ID", "Members")
      // reference parity (data_engine.py:757-786): a household missing
      // from the members table gets a NULL adjusted weight, exactly as
      // pandas' post-merge `weight * NaN` — weighted statistics then
      // exclude it from numerator AND denominator
      w.join(broadcast(members), Seq("Year", "ID"), "left")
        .withColumn("Weight", col("Weight") * col("Members"))
        .drop("Members")
    }
  }

  def addWeights(df: DataFrame): DataFrame = addWeights(df, adjustForHouseholdSize = false)

  def addWeights(df: DataFrame, adjustForHouseholdSize: Boolean): DataFrame =
    Stats.addWeight(df, weights(distinctYears(df), adjustForHouseholdSize))

  // ------------------------------------------------------- decoders (D1/D2)

  /** C4/E3: settings is the instruction input — a name string or a map
    * with name/levels/aspects/column_names/code_col overrides.
    */
  def addClassification(df: DataFrame, settings: Meta): DataFrame = {
    val name = settings match {
      case MStr(s) => s
      case m: MMap => m.get("name").map(_.asStr).getOrElse("original")
      case MNull   => "original"
      case other   => throw new IllegalArgumentException(s"bad settings: $other")
    }
    val doc = classifications.getOrElse(name,
      throw new NoSuchElementException(s"classification $name"))
    val base = Classifier.settingsFromMeta(doc)
    val s = base.copy(
      codeCol = settings.get("code_col").map(_.asStr).getOrElse(base.codeCol),
      levels = settings.get("levels").map(_.asList.map(_.asLong.toInt)).getOrElse(base.levels),
      columnNames = settings.get("column_names").map(_.asList.map(_.asStr)).getOrElse(base.columnNames),
      aspects = settings.get("aspects").map(_.asList.map(_.asStr)).getOrElse(base.aspects),
    )
    val years = distinctYears(df, s.yearCol)
    // non-item_key aspects label from per-item metadata fields — they
    // must be compiled into the items or their columns would be null
    val items = Classifier.compile(doc, years,
      extraAspects = s.aspects.filterNot(_ == "item_key"), resolver = config.resolver)
    Classifier.addClassification(df, items, s)
  }

  /** C5/E4: decode an ID-embedded attribute. */
  def addAttribute(df: DataFrame, settings: Meta): DataFrame = {
    val (name, aspect) = settings match {
      case MStr(s) => (s, "name")
      case m: MMap => (m("name").asStr, m.get("aspects").map(_.asList.head.asStr).getOrElse("name"))
      case other   => throw new IllegalArgumentException(s"bad settings: $other")
    }
    val years = distinctYears(df)
    val versions = IdDecoder.compile(householdMeta, name, years, config.resolver)
    IdDecoder.addAttribute(df, versions, IdDecoder.Settings(name, aspect = aspect))
  }

  /** E5 `select`: filter by a decoded geography attribute — the decode is
    * a pure expression, so this is a pushdown-able predicate (api.py:378-433
    * adds the column, filters, and drops it; same here).
    */
  def selectBy(df: DataFrame, attribute: String, value: String): DataFrame = {
    val helper = s"_sel_$attribute"
    val years = distinctYears(df)
    val versions = IdDecoder.compile(householdMeta, attribute, years, config.resolver)
    IdDecoder.addAttribute(df, versions, IdDecoder.Settings(attribute, outputCol = Some(helper)))
      .where(col(helper) === lit(value))
      .drop(helper)
  }

  override def broadcastable(name: String): Boolean = !config.factTables(name)
}

object TableRepo {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.internal.SQLConf
  import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

  private val integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)

  /** The year set `df`'s plan proves for `yearCol`, or None when it proves
    * nothing. The proof is the plan's own constraints (the ones the
    * optimizer infers filters from). The candidate set comes from `=`,
    * `<=>`, `IN` and OR-of-equalities between the output year attribute
    * and integer literals, intersected across constraints: `add_year`'s
    * `lit(year)` gives each per-year build the constraint `Year <=> year`,
    * and a union ORs its children's. Every constraint on the year alone
    * (`Year > k`, `Year =!= k`, `NOT IN`, ...) is then evaluated at each
    * candidate, and the candidates it rejects are dropped. A year
    * constraint that cannot be evaluated, or a filter that constraint
    * propagation cannot see (non-deterministic, or with a subquery),
    * makes the plan prove nothing, so the probe runs.
    *
    * The analyzed plan is read, not the optimized one: optimization folds
    * a projection over local rows into a new local relation, which drops
    * the literal's constraint, and would cost a full optimizer pass per
    * decorator besides. The proven set may still exceed the years present
    * (a filter on another column, a join or a limit can empty a year); a
    * per-year branch for an absent year matches no row.
    */
  def provenYears(df: DataFrame, yearCol: String = "Year"): Option[Seq[Int]] = {
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val plan = df.queryExecution.analyzed
    val opaqueFilter = plan.exists {
      case Filter(cond, _) => !cond.deterministic || SubqueryExpression.hasSubquery(cond)
      case _               => false
    }
    plan.resolve(Seq(yearCol), SQLConf.get.resolver) match {
      case Some(year: Attribute) if integral(year.dataType) && !opaqueFilter =>
        def isYear(e: Expression) = e match {
          case a: Attribute => a.exprId == year.exprId
          case _            => false
        }
        def value(e: Expression): Option[Int] = e match {
          case Literal(v: Number, t) if integral(t) && v.longValue.isValidInt => Some(v.intValue)
          case _ => None
        }
        def years(c: Expression): Option[Set[Int]] = c match {
          case EqualTo(a, l) if isYear(a)       => value(l).map(Set(_))
          case EqualTo(l, a) if isYear(a)       => value(l).map(Set(_))
          case EqualNullSafe(a, l) if isYear(a) => value(l).map(Set(_))
          case EqualNullSafe(l, a) if isYear(a) => value(l).map(Set(_))
          case In(a, list) if isYear(a) =>
            val vs = list.map(value)
            if (vs.forall(_.isDefined)) Some(vs.flatten.toSet) else None
          case Or(l, r)  => for (a <- years(l); b <- years(r)) yield a ++ b
          case And(l, r) => (years(l) ++ years(r)).reduceOption(_ & _)
          case _         => None
        }
        def literal(y: Int): Literal = year.dataType match {
          case ByteType  => Literal(y.toByte)
          case ShortType => Literal(y.toShort)
          case LongType  => Literal(y.toLong)
          case _         => Literal(y)
        }
        // Some(holds) per candidate, None when the constraint cannot be evaluated
        def holds(c: Expression, y: Int): Option[Boolean] =
          try Some(c.transform { case a: Attribute if isYear(a) => literal(y) }.eval() == true)
          catch { case scala.util.control.NonFatal(_) => None }
        val constraints = plan.constraints.toSeq
        val onYear = constraints.filter(_.references.forall(isYear))
        constraints.flatMap(years).reduceOption(_ & _).flatMap { candidates =>
          val checked = candidates.toSeq.sorted.map(y => y -> onYear.map(holds(_, y)))
          if (checked.exists(_._2.contains(None))) None
          else Some(checked.collect { case (y, hs) if hs.forall(_.contains(true)) => y })
        }
      case _ => None
    }
  }
}

/** The manifest of an A9 cache entry: the schema the entry was written
  * with and, when the built plan proved it, its year set. It lives inside
  * the entry directory under a `_`-prefixed name, which Spark's file index
  * skips, and it is written after the data, so an entry without one is a
  * miss.
  */
final case class CacheManifest(
    schema: org.apache.spark.sql.types.StructType,
    years: Option[Seq[Int]],
)

object CacheManifest {
  private val FileName = "_graft_manifest.json"
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Through the Hadoop filesystem API — the cache directory may be
    * HDFS/S3 at deployment scale, where a `java.io.File` probe is always
    * false and would silently rewrite the cache on every load.
    */
  private def file(spark: SparkSession, entry: String) = {
    val p = new org.apache.hadoop.fs.Path(entry, FileName)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  def write(spark: SparkSession, entry: String, m: CacheManifest): Unit = {
    val node = mapper.createObjectNode()
    node.set[com.fasterxml.jackson.databind.JsonNode]("schema", mapper.readTree(m.schema.json))
    m.years.foreach(ys => ys.foldLeft(node.putArray("years"))(_.add(_)))
    val (fs, p) = file(spark, entry)
    val out = fs.create(p, true)
    try out.write(mapper.writeValueAsBytes(node)) finally out.close()
  }

  /** None when the entry has no manifest (absent, or written by an older
    * format): the caller rebuilds it.
    */
  def read(spark: SparkSession, entry: String): Option[CacheManifest] = {
    val (fs, p) = file(spark, entry)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val node = try mapper.readTree(in) finally in.close()
      val schema = org.apache.spark.sql.types.DataType.fromJson(node.get("schema").toString)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      val years = Option(node.get("years")).map { ys =>
        (0 until ys.size).map(ys.get(_).asInt)
      }
      Some(CacheManifest(schema, years))
    }
  }
}
