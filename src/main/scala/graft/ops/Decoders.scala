package graft.ops

import graft.meta._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** D1 — classification decoding (the reference's "commodity/occupation
  * decoder", hbsir/core/decoder.py:226-476): map a code column to
  * classification labels at requested hierarchy levels, where each
  * classification item covers a *set of code ranges* that varies by year.
  *
  * Spark-first plan (mirrors the reference's own distinct-pairs
  * optimization, decoder.py:371-380, but as a relational range join):
  *   1. distinct (Year, Code) dictionary from the input — tiny vs the fact
  *      table (≤ thousands of codes/yr at any scale);
  *   2. range-join the dictionary against the exploded classification item
  *      ranges (items side broadcast; predicate `code >= lo && code < hi`
  *      stays in whole-stage codegen);
  *   3. validate that no (Year, Code, level) maps to two items
  *      (decoder.py:436-444 raises — we raise with a sample) — only when
  *      the compiled metadata lets two items claim one code
  *      ([[rangesOverlap]]); otherwise no code can be ambiguous and the
  *      check, its job and its cache are skipped;
  *   4. fold level -> columns (conditional-first agg; equivalent to the
  *      reference's unstack, decoder.py:431-433);
  *   5. broadcast-hash left join back onto the input by (Year, Code) and
  *      fill configured missing values (decoder.py:446-476).
  *
  * At 100 TB the fact table is touched exactly once, by a broadcast hash
  * join — no shuffle; all heavy lifting happens on the distinct dictionary.
  */
object Classifier {

  /** One classification item for one year, post category-expansion:
    * `key` is the item_key, `aspects` the label columns it carries
    * (farsi_name, ...), `codes` its Argham code-range set.
    */
  final case class ClassItem(
      year: Int,
      key: String,
      level: Int,
      codes: Argham,
      aspects: Map[String, String] = Map.empty,
  )

  final case class Settings(
      codeCol: String = "Code",
      yearCol: String = "Year",
      aspects: Seq[String] = Seq("item_key"),
      levels: Seq[Int] = Seq(1),
      columnNames: Seq[String] = Seq.empty,
      missingValueReplacements: Map[String, String] = Map.empty,
  ) {
    /** aspect×level -> output column name (decoder.py:290-326). */
    def renames: Seq[((String, Int), String)] = {
      val pairs = for (a <- aspects; l <- levels) yield (a, l)
      val names =
        if (columnNames.size == pairs.size) columnNames
        else if (columnNames.size == aspects.size)
          for (n <- columnNames; l <- levels) yield s"${n}_$l"
        else pairs.map { case (a, l) => s"${a}_$l" }
      pairs.zip(names)
    }
  }

  /** Compile classification metadata for the given years.
    * `meta` is the (unresolved) classification document: `defaults:` +
    * year-versioned `items:` with `level` + `code` ranges + aspect labels
    * (shape per hbsir/metadata/commodities.yaml).
    */
  def compile(
      meta: Meta,
      years: Seq[Int],
      extraAspects: Seq[String] = Seq.empty,
      resolver: ResolverSettings = ResolverSettings(),
  ): Seq[ClassItem] =
    years.flatMap { y =>
      val resolved = new CategoryResolver(meta, y, resolver).categorizeMetadata
      resolved("items").asList.map { item =>
        val key = item("item_key").asStr
        val level = item.get("level").map(_.asLong.toInt).getOrElse(1)
        val codes = item.get("code")
          .map(c => Argham(c, keywords = Seq("code")))
          .getOrElse(Argham.ofInts()) // items without code match nothing
        val aspects = extraAspects.flatMap(a => item.get(a).map(a -> _.asStr)).toMap
        ClassItem(y, key, level, codes, aspects)
      }
    }

  /** Defaults block of a classification document -> Settings.
    * Mirrors DecoderSettings.model_post_init (decoder.py:267-289):
    * defaults supply aspects/levels/column_names/missing replacements;
    * unknown defaults keys (e.g. occupations.yaml's legacy
    * `output_column_names`) are ignored.
    */
  def settingsFromMeta(meta: Meta): Settings = {
    val d = meta.get("defaults").getOrElse(MNull)
    Settings(
      aspects = d.get("aspects").map(_.asList.map(_.asStr)).getOrElse(Seq("item_key")),
      levels = d.get("levels").map(_.asList.map(_.asLong.toInt)).getOrElse(Seq(1)),
      columnNames = d.get("column_names").map(_.asList.map(_.asStr)).getOrElse(Seq.empty),
      missingValueReplacements = d.get("missing_value_replacements")
        .map(_.asMap.map { case (k, v) => k.asString -> v.asStr }.toMap)
        .getOrElse(Map.empty),
    )
  }

  /** The exploded item-range table (one row per contiguous range), built
    * driver-side — classification metadata is small by construction.
    */
  private def itemsDF(spark: SparkSession, items: Seq[ClassItem], aspects: Seq[String]): DataFrame = {
    val schema = StructType(
      Seq(
        StructField("_cls_year", IntegerType, nullable = false),
        StructField("_cls_level", IntegerType, nullable = false),
        StructField("_cls_lo", LongType, nullable = false),
        StructField("_cls_hi", LongType, nullable = false),
        StructField("_cls_step", LongType, nullable = false),
        // the owning item's identity, always present — ambiguity
        // validation must distinguish "two ITEMS claim this code" from
        // "one item's own ranges overlap" (only the former is an error)
        StructField("_cls_key", StringType, nullable = false),
      ) ++ aspects.map(a => StructField(s"_asp_$a", StringType, nullable = true)))
    val rows = for {
      it <- items
      r <- it.codes.ranges
    } yield Row.fromSeq(
      Seq[Any](it.year, it.level, r.start, r.end, r.step, it.key) ++
        aspects.map(a => if (a == "item_key") it.key else it.aspects.get(a).orNull))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** D1 plan (b) — SURVEY §2: compile ONE (level, aspect) to a pure
    * column expression instead of a join, using the native binary-search
    * range-set expression ([[graft.plans.RangeSet]]; requires
    * GraftExtensions installed in the session). O(log ranges) per row, no
    * shuffle, usable as a filter predicate. Range overlap within a level
    * surfaces as a compile-time error (the join path's uniqueness
    * validation, moved to plan time). Stepped ranges fall back to the
    * join path.
    */
  def levelExpr(
      items: Seq[ClassItem],
      level: Int,
      yearCol: org.apache.spark.sql.Column,
      codeCol: org.apache.spark.sql.Column,
      aspect: String = "item_key",
      default: Option[String] = None,
  ): org.apache.spark.sql.Column = {
    val byYear = items.filter(_.level == level).groupBy(_.year)
    byYear.toSeq.sortBy(_._1).foldLeft(lit(null).cast(StringType)) {
      case (acc, (y, its)) =>
        val ranges = its.flatMap { it =>
          require(it.codes.ranges.forall(_.step == 1),
            s"stepped range in ${it.key}: expression path supports step=1 only")
          val label = if (aspect == "item_key") it.key else it.aspects.getOrElse(aspect, null)
          it.codes.ranges.map(r => (r.start, r.end, label))
        }
        when(yearCol === lit(y), graft.plans.RangeSet.lookup(codeCol, ranges, default))
          .otherwise(acc)
    }
  }

  /** Whether the code ranges of two different items intersect within one
    * (year, level) — the only way a code can decode to two items. Checked
    * on the driver over the compiled metadata: each item's own ranges are
    * merged first (overlapping them is legal), so any overlap left in the
    * sorted sweep is between items. Stepped ranges count as their whole
    * interval, which can only report an overlap more often.
    */
  private[ops] def rangesOverlap(items: Seq[ClassItem]): Boolean =
    items.groupBy(i => (i.year, i.level)).values.exists { sameLevel =>
      val merged = sameLevel.groupBy(_.key).values.toSeq.flatMap { sameItem =>
        sameItem.flatMap(_.codes.ranges).filter(r => r.start < r.end)
          .map(r => (r.start, r.end)).sortBy(_._1)
          .foldLeft(List.empty[(Long, Long)]) {
            case ((lo, hi) :: done, (s, e)) if s <= hi => (lo, hi max e) :: done
            case (done, r) => r :: done
          }
      }.sortBy(_._1)
      // the first overlap in start order is between neighbours
      merged.zip(merged.drop(1)).exists { case ((_, hi), (s, _)) => s < hi }
    }

  /** Add classification columns to `df`. Raises IllegalStateException when
    * an ambiguous mapping exists (reference parity, decoder.py:436-444).
    */
  def addClassification(
      df: DataFrame,
      items: Seq[ClassItem],
      settings: Settings = Settings(),
      /** Owns the matched-dictionary cache (bounded by the distinct-code
        * dictionary). The unmanaged default keeps it for the session —
        * long-lived sessions decoding many (table, year) combinations
        * should pass a managed handle and release it.
        */
      handle: StorageHandle = StorageHandle.unmanaged,
  ): DataFrame = {
    val spark = df.sparkSession
    val y = settings.yearCol
    val c = settings.codeCol
    val levelItems = items.filter(i => settings.levels.contains(i.level))
    val its = itemsDF(spark, levelItems, settings.aspects)

    val codes = df.select(col(y).cast(IntegerType).as(y), col(c).cast(LongType).as(c))
      .where(col(c).isNotNull).distinct()

    val joinCond = col(y) === col("_cls_year") &&
      col(c) >= col("_cls_lo") && col(c) < col("_cls_hi") &&
      (col("_cls_step") === lit(1L) || pmod(col(c) - col("_cls_lo"), col("_cls_step")) === lit(0L))
    val dictionary = codes.join(broadcast(its), joinCond, "inner")
    val validate = rangesOverlap(levelItems)
    // persisted only when validated: then it is consumed twice (eager
    // uniqueness validation + pivot agg), bounded by the distinct-code
    // dictionary size
    val matched = if (validate) handle.persist(dictionary) else dictionary

    // Uniqueness validation: one ITEM per (Year, Code, level) — counted
    // as distinct item keys, not matched range rows, so an item whose
    // own ranges overlap a code (e.g. a range plus a contained
    // singleton) is legal, exactly like the reference's item-level check
    // (decoder.py:436-444). Runs on the distinct-code dictionary
    // (small), not the fact table.
    if (validate) {
      val dups = matched.groupBy(col(y), col(c), col("_cls_level"))
        .agg(countDistinct(col("_cls_key")).as("_n_items"))
        .where(col("_n_items") > 1).limit(10).collect()
      if (dups.nonEmpty)
        throw new IllegalStateException(
          s"Classification is not valid — ambiguous (year, code, level): ${dups.mkString("; ")}")
    }

    // level -> columns (the reference's unstack): conditional first per
    // requested (aspect, level); uniqueness above makes `first` exact.
    val outCols = settings.renames.map { case ((aspect, level), name) =>
      first(when(col("_cls_level") === level, col(s"_asp_$aspect")), ignoreNulls = true).as(name)
    }
    val mapping = matched.groupBy(col(y), col(c)).agg(outCols.head, outCols.tail: _*)

    val joined = df.join(broadcast(mapping),
      df(y) === mapping(y) && df(c) === mapping(c), "left")
      .drop(mapping(y)).drop(mapping(c))

    settings.missingValueReplacements.foldLeft(joined) { case (acc, (column, default)) =>
      if (acc.columns.contains(column))
        acc.withColumn(column, coalesce(col(column), lit(default)))
      else acc
    }
  }
}

/** D2 — household-ID attribute decoding (hbsir/core/decoder.py:479-651):
  * geography attributes (Urban_Rural / Province / County) are *digit
  * substrings of the household ID*, with the ID length and digit positions
  * year-versioned (hbsir/metadata/household.yaml:2-31).
  *
  * The reference materializes a (Year, ID) mapping table and joins it
  * back; that is a pandas artifact. In Spark the decode is a pure
  * generated-column expression — `(ID % 10^(len-start)) div 10^(len-end)`
  * inside per-year `when` branches, then a literal code->label map — so it
  * costs one projection, stays in codegen, and is usable as a pushdown-able
  * filter predicate (E5 `select`).
  */
object IdDecoder {

  /** Digit layout + label map for one year-version of one attribute. */
  final case class AttrVersion(
      fromYear: Int,
      untilYear: Int, // exclusive
      idLength: Int,
      posStart: Int,
      posEnd: Int,
      labels: Map[Long, String] = Map.empty,
  )

  final case class Settings(
      name: String,
      idCol: String = "ID",
      yearCol: String = "Year",
      aspect: String = "name", // "name" -> mapped label, "code" -> raw code
      outputCol: Option[String] = None,
  )

  /** Per-year decode availability of an attribute (decoder.py:571-601,
    * _create_code_builder): positional digit-substring when
    * `code.position` resolves non-null, an external ID->code mapping
    * file when `code.external_file` does (County 1387-1391,
    * household.yaml:180-196), else unavailable (the reference raises
    * "Code position is not available").
    */
  sealed trait YearLayout
  final case class Positional(version: AttrVersion) extends YearLayout
  final case class ExternalFile(year: Int, file: String,
      labels: Map[Long, String] = Map.empty) extends YearLayout
  final case class Unavailable(year: Int) extends YearLayout

  /** [[compile]] with the reference's full availability dispatch instead
    * of assuming a positional layout for every year. */
  def compileOpt(
      householdMeta: Meta,
      attr: String,
      years: Seq[Int],
      resolver: ResolverSettings = ResolverSettings(),
  ): Seq[YearLayout] =
    years.sorted.map { y =>
      val resolved = new VersionResolver(householdMeta, y, resolver).getVersion
      val idLen = resolved("ID_Length").asLong.toInt
      val codeMeta = resolved(attr)("code")
      codeMeta.get("position").filterNot(_.isNull) match {
        case Some(pos) =>
          val labels = parseLabels(resolved(attr))
          Positional(AttrVersion(y, y + 1, idLen,
            pos("start").asLong.toInt, pos("end").asLong.toInt, labels))
        case None =>
          codeMeta.get("external_file").filterNot(_.isNull) match {
            case Some(f) => ExternalFile(y, f.asStr, parseLabels(resolved(attr)))
            case None    => Unavailable(y)
          }
      }
    }

  /** Compile one attribute's versions from household metadata for the
    * given years (household.yaml shape: top-level ID_Length plus
    * `<attr>: {code: {position: {start, end}}, name: {...}}`, all
    * year-versioned).
    */
  def compile(
      householdMeta: Meta,
      attr: String,
      years: Seq[Int],
      resolver: ResolverSettings = ResolverSettings(),
  ): Seq[AttrVersion] =
    years.sorted.map { y =>
      val resolved = new VersionResolver(householdMeta, y, resolver).getVersion
      val idLen = resolved("ID_Length").asLong.toInt
      val attrMeta = resolved(attr)
      val pos = attrMeta("code")("position")
      AttrVersion(y, y + 1, idLen,
        pos("start").asLong.toInt, pos("end").asLong.toInt, parseLabels(attrMeta))
    }

  /** code -> label map of one resolved attribute. A label resolved to
    * null means "code undefined this year" (household.yaml:406-431:
    * counties reassigned to new provinces null out their old code) and
    * is skipped, like pandas' .map leaving unmapped codes NaN.
    */
  private def parseLabels(attrMeta: Meta): Map[Long, String] =
    attrMeta.get("name").map(_.asMap.collect {
      case (IKey(i), v) if !v.isNull => i -> v.asStr
      case (SKey(s), v) if !v.isNull => s.toLong -> v.asStr
    }.toMap).getOrElse(Map.empty[Long, String])

  /** The digit-substring extraction for one version, as a Column. */
  def codeExpr(id: Column, v: AttrVersion): Column = {
    val p1 = math.pow(10, (v.idLength - v.posStart).toDouble).toLong
    val p2 = math.pow(10, (v.idLength - v.posEnd).toDouble).toLong
    floor((id.cast(LongType) % lit(p1)) / lit(p2)).cast(LongType)
  }

  /** code -> label as ONE map-literal lookup. A nested when/otherwise
    * fold is O(labels) comparisons per row AND O(labels) recursion depth
    * at plan build — the real County map (~430 names) overflowed the
    * column-converter stack. `try_element_at` is the ANSI-safe probe:
    * missing keys (and null codes) yield NULL, exactly pandas' .map.
    */
  private def labelExpr(code: Column, labels: Map[Long, String]): Column =
    if (labels.isEmpty) lit(null).cast(StringType)
    else try_element_at(typedlit(labels), code)

  /** Add the decoded attribute column — one `when` branch per distinct
    * year version, no join.
    */
  def addAttribute(df: DataFrame, versions: Seq[AttrVersion], settings: Settings): DataFrame = {
    val out = settings.outputCol.getOrElse(settings.name)
    val id = col(settings.idCol)
    val expr = versions.foldLeft(lit(null).cast(StringType)) { (acc, v) =>
      val code = codeExpr(id, v)
      val value = settings.aspect match {
        case "code" => code.cast(StringType)
        case _      => labelExpr(code, v.labels)
      }
      when(col(settings.yearCol) >= lit(v.fromYear) && col(settings.yearCol) < lit(v.untilYear),
        value).otherwise(acc)
    }
    df.withColumn(out, expr)
  }

  /** [[addAttribute]] over the FULL availability dispatch ([[compileOpt]]):
    * positional years stay a pure generated-column expression;
    * external-file years (County 1387-1391, household.yaml:180-194) get
    * their code from a per-year (ID → code) mapping table — the
    * reference loads the external file and `.map()`s the ID column over
    * its dict (decoder.py:588-598), which in Spark is a BROADCAST left
    * join: the mapping is registry-sized (one row per surveyed
    * household-year), the fact side never shuffles. An [[Unavailable]]
    * year is the reference's hard error ("Code position is not
    * available", decoder.py:600) — refusing beats silently nulling a
    * column the caller will aggregate by.
    *
    * `externalCodes(year, file)` must return a DataFrame whose first two
    * columns are (ID, code). The reference hard-asserts the mapping is
    * COMPLETE (`assert codes.isna().sum() == 0`, decoder.py:596);
    * `strict = true` mirrors that — one bounded aggregation counts
    * external-year rows whose ID missed the mapping and refuses on any.
    * The default stays lenient (miss decodes to NULL) for callers that
    * deliberately feed partial mappings (the planted-NULL gate), but a
    * production pipeline over real external files should run strict:
    * a silent NULL here flows into every downstream groupby key.
    */
  def addAttributeLayouts(
      df: DataFrame,
      layouts: Seq[YearLayout],
      externalCodes: (Int, String) => DataFrame,
      settings: Settings,
      strict: Boolean = false): DataFrame = {
    layouts.collectFirst { case Unavailable(y) => y }.foreach { y =>
      throw new IllegalArgumentException(
        s"Code position is not available for ${settings.name} in year $y (decoder.py:600)")
    }
    val out = settings.outputCol.getOrElse(settings.name)
    val positionals = layouts.collect { case Positional(v) => v }
    val externals = layouts.collect { case e: ExternalFile => e }
    // one broadcast dim for ALL external years: (Year, ID) -> code
    val extCode = "_ext_code_" + out
    val withExt =
      if (externals.isEmpty) df.withColumn(extCode, lit(null).cast(LongType))
      else {
        val mapping = externals.map { e =>
          val m = externalCodes(e.year, e.file)
          val Seq(idc, cc) = m.columns.take(2).toSeq
          m.select(lit(e.year).as("_ext_y"), col(idc).cast(LongType).as("_ext_id"),
            col(cc).cast(LongType).as(extCode))
        }.reduce(_.unionByName(_))
        // the reference reads this file into a dict (decoder.py:588-598),
        // which CANNOT hold duplicate IDs (last write wins, file-order
        // dependent); a left join against a duplicated key would silently
        // FAN OUT fact rows instead. Guard loudly — the mapping is a
        // broadcast-sized dim, so this is a bounded single-row probe
        val dup = mapping.groupBy("_ext_y", "_ext_id").count()
          .where(col("count") > 1).limit(1).collect()
        require(dup.isEmpty,
          s"external ID mapping has duplicate (year, ID) entries (e.g. ${dup.headOption.orNull}) — " +
            "a join against it would fan out household rows; deduplicate the file first")
        val joined = df.join(broadcast(mapping),
          df(settings.yearCol) === col("_ext_y") && df(settings.idCol) === col("_ext_id"),
          "left").drop("_ext_y", "_ext_id")
        if (strict) {
          // the reference's completeness assert (decoder.py:596): every
          // external-year household must resolve a code. Enforced as a
          // runtime assert INSIDE the output projection (raise_error on
          // the first miss), not an eager count at plan-construction —
          // verification and output share one scan, so the validated
          // rows are BY CONSTRUCTION the rows downstream reads (an
          // eager count re-executes the join: a second external-year
          // scan, and on a non-deterministic source the checked data
          // could differ from the returned data).
          val extYears = externals.map(e => lit(e.year))
          val checked = when(
            col(settings.yearCol).isin(extYears: _*) && col(extCode).isNull,
            raise_error(concat(
              lit(s"external ID mapping for ${settings.name} is incomplete: (Year, ID) = ("),
              col(settings.yearCol).cast(StringType), lit(", "),
              col(settings.idCol).cast(StringType),
              lit(") decodes to NULL (reference asserts zero misses, decoder.py:596); " +
                "fix the mapping file or run with strict = false"))).cast(LongType)
          ).otherwise(col(extCode))
          joined.withColumn(extCode, checked)
        } else joined
      }
    val id = col(settings.idCol)
    val init = lit(null).cast(StringType)
    val withPos = positionals.foldLeft(init) { (acc, v) =>
      val code = codeExpr(id, v)
      val value = settings.aspect match {
        case "code" => code.cast(StringType)
        case _      => labelExpr(code, v.labels)
      }
      when(col(settings.yearCol) >= lit(v.fromYear) && col(settings.yearCol) < lit(v.untilYear),
        value).otherwise(acc)
    }
    val full = externals.foldLeft(withPos) { (acc, e) =>
      val value = settings.aspect match {
        case "code" => col(extCode).cast(StringType)
        case _      => labelExpr(col(extCode), e.labels)
      }
      when(col(settings.yearCol) === lit(e.year), value).otherwise(acc)
    }
    withExt.withColumn(out, full).drop(extCode)
  }
}
