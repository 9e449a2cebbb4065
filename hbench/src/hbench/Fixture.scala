package hbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded HBSIR-shaped inputs, generated in the benchmark process so it can
  * derive every expected output without going through the program.
  *
  * The raw expenditure tables are per-year slices of a TPC-H-shaped
  * order/lineitem stream: a household places orders, each order carries
  * lineitems, and a lineitem becomes one `food` or `durable` row
  * (ADDRESS, CODE, EXPENDITURE). Raw column names follow the survey's
  * history: `COLnn` before 1383, `DYCOLnn` from 1383 on. Household IDs are
  * 8 digits, `U PP SSSSS`: Urban_Rural (1/2), Province (2 digits), serial.
  *
  * Expenditures are whole multiples of the table's Duration (30 for food,
  * 360 for durables), so every `Expenditure / Duration * 360` is an exact
  * integer and sums do not depend on their order.
  */
object Fixture {

  val FirstYear = 1363
  val LastYear = 1401
  /** The year the raw column names switch from COLnn to DYCOLnn. */
  val RenameYear = 1383
  /** The year the Food code range narrows. */
  val FoodRangeYear = 1383

  val Provinces: Seq[(Int, String)] = Seq(
    10 -> "Markazi", 11 -> "Gilan", 12 -> "Mazandaran", 13 -> "East_Azerbaijan",
    14 -> "West_Azerbaijan", 15 -> "Kermanshah", 16 -> "Khuzestan", 17 -> "Fars",
    18 -> "Kerman", 23 -> "Tehran")

  // input sizes: a survey session stays bound by per-job overhead, not data
  val Households = 200
  val SurveyYears = 3
  val LinesPerHousehold = 6
  val Docs = 2000
  val Vectors = 1000
  val Dim = 64

  final case class Household(year: Int, id: Long, weight: Long, ages: Array[Int]) {
    def adults: Int = ages.count(_ >= 14)
  }
  final case class Line(year: Int, id: Long, code: Long, expenditure: Double, durable: Boolean) {
    def gross: Double = if (durable) expenditure / 360 * 360 else expenditure / 30 * 360
  }

  final case class Survey(households: Vector[Household], lines: Vector[Line])

  final case class Corpus(
      docs: Vector[(Long, String)],
      docGroups: Vector[Vector[Long]],
      vectors: Vector[(Long, Array[Float])],
      vectorGroups: Vector[Vector[Long]],
  )

  def survey(seed: Long, years: Seq[Int]): Survey = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val hhs = Vector.newBuilder[Household]
    val lines = Vector.newBuilder[Line]
    for (y <- years) {
      for (h <- 0 until Households) {
        val ur = 1 + rng.nextInt(2)
        val prov = Provinces(rng.nextInt(Provinces.size))._1
        val id = ur * 10000000L + prov * 100000L + (h + 1)
        val members = 1 + rng.nextInt(6)
        val ages = Array.fill(members)(rng.nextInt(80))
        ages(0) = 18 + rng.nextInt(60) // every household has a head
        hhs += Household(y, id, 1 + rng.nextInt(500), ages)
        for (_ <- 0 until LinesPerHousehold) {
          if (rng.nextInt(4) == 0)
            lines += Line(y, id, 30000L + rng.nextInt(10000), 360.0 * (1 + rng.nextInt(40)), durable = true)
          else
            lines += Line(y, id, 11000L + rng.nextInt(16000), 30.0 * (1 + rng.nextInt(200)), durable = false)
        }
      }
    }
    Survey(hhs.result(), lines.result())
  }

  /** Food code range of a year: half-open [11000, end). */
  def foodEnd(year: Int): Long = if (year < FoodRangeYear) 20000L else 19000L

  def provinceName(id: Long): String = {
    val code = ((id / 100000L) % 100L).toInt
    Provinces.find(_._1 == code).map(_._2).orNull
  }
  def urbanRural(id: Long): String = if (id / 10000000L == 1L) "Urban" else "Rural"

  /** A survey window of `width` consecutive years that crosses 1383, and the
    * province `select` filters on — both drawn from the seed.
    */
  def window(seed: Long, width: Int = SurveyYears): (Seq[Int], String) = {
    val rng = new SplittableRandom(seed * 31 + 7)
    val start = RenameYear - width + 1 + rng.nextInt(width - 1)
    (start until start + width, Provinces(rng.nextInt(Provinces.size))._2)
  }

  // ---------------------------------------------------------------- corpus

  private def word(rng: SplittableRandom): String = {
    val cons = "bcdfghjklmnprstvz"; val vow = "aeiou"
    val n = 2 + rng.nextInt(3)
    val sb = new StringBuilder
    for (_ <- 0 until n) {
      sb += cons.charAt(rng.nextInt(cons.length)); sb += vow.charAt(rng.nextInt(vow.length))
    }
    sb.toString
  }

  /** A copy that differs only in case, punctuation and spacing: identical
    * after the near-dup tokenizer's normalisation, so every similarity is 1.
    */
  private def noisyCopy(text: String, rng: SplittableRandom): String =
    text.split(' ').map { w =>
      val cased = if (rng.nextInt(5) == 0) w.toUpperCase else if (rng.nextInt(5) == 0) w.capitalize else w
      cased + (rng.nextInt(8) match { case 0 => ","; case 1 => "."; case 2 => " -"; case _ => "" })
    }.mkString(if (rng.nextBoolean()) " " else "  ")

  def corpus(seed: Long): Corpus = {
    val rng = new SplittableRandom(seed * 0xBF58476D1CE4E5B9L + 3)
    val vocab = Array.fill(20000)(word(rng))
    // one document in ten is an extra copy of an earlier original
    val originals = Docs - Docs / 10
    val docs = mutable.ArrayBuffer.empty[(Long, String)]
    for (i <- 0 until originals) {
      val n = 40 + rng.nextInt(60)
      docs += (i.toLong -> Array.fill(n)(vocab(rng.nextInt(vocab.length))).mkString(" "))
    }
    val groups = mutable.LinkedHashMap.empty[Long, mutable.ArrayBuffer[Long]]
    for (i <- originals until Docs) {
      val src = rng.nextInt(originals).toLong
      docs += (i.toLong -> noisyCopy(docs(src.toInt)._2, rng))
      groups.getOrElseUpdate(src, mutable.ArrayBuffer(src)) += i.toLong
    }
    val vecOriginals = Vectors - Vectors / 10
    val vecs = mutable.ArrayBuffer.empty[(Long, Array[Float])]
    for (i <- 0 until vecOriginals)
      vecs += (i.toLong -> Array.fill(Dim)(gaussian(rng).toFloat))
    val vgroups = mutable.LinkedHashMap.empty[Long, mutable.ArrayBuffer[Long]]
    for (i <- vecOriginals until Vectors) {
      val src = rng.nextInt(vecOriginals)
      vecs += (i.toLong -> vecs(src)._2.map(x => (x + 0.001 * gaussian(rng)).toFloat))
      vgroups.getOrElseUpdate(src.toLong, mutable.ArrayBuffer(src.toLong)) += i.toLong
    }
    Corpus(docs.toVector, groups.values.map(_.toVector.sorted).toVector,
      vecs.toVector, vgroups.values.map(_.toVector.sorted).toVector)
  }

  private def gaussian(rng: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = 1.0 - rng.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rng.nextDouble())
  }

  /** Every unordered id pair inside a group, as (smaller, larger). */
  def groupPairs(groups: Seq[Seq[Long]]): Set[(Long, Long)] =
    groups.flatMap(g => for (a <- g; b <- g if a < b) yield (a, b)).toSet

  // -------------------------------------------------------------- metadata

  private def yearVersioned(cols: Seq[(String, String)]): String = {
    def block(prefix: String) = cols.zipWithIndex.map { case ((name, spec), i) =>
      f"      $prefix${i + 1}%02d: $spec"
    }.mkString("\n")
    s"""    $FirstYear:
${block("COL")}
    $RenameYear:
${block("DYCOL")}"""
  }

  val expenditureColumns: Seq[(String, String)] = Seq(
    "ADDRESS" -> "{new_name: ID, type: unsigned}",
    "CODE" -> "{new_name: Code, type: unsigned}",
    "EXPENDITURE" -> "{new_name: Expenditure, type: float}",
    "PURCHASE" -> "drop")
  val householdColumns: Seq[(String, String)] = Seq(
    "ADDRESS" -> "{new_name: ID, type: unsigned}",
    "WEIGHT" -> "{new_name: Weight, type: unsigned}")
  val memberColumns: Seq[(String, String)] = Seq(
    "ADDRESS" -> "{new_name: ID, type: unsigned}",
    "MEMBER" -> "{new_name: Member_Number, type: unsigned}",
    "AGE" -> "{new_name: Age, type: unsigned}")

  /** Raw column names of a table in a year. */
  def rawColumns(table: String, year: Int): Seq[String] = {
    val n = table match {
      case "food" | "durable" => expenditureColumns.size
      case "household_information" => householdColumns.size
      case "members_properties" => memberColumns.size
    }
    val prefix = if (year < RenameYear) "COL" else "DYCOL"
    (1 to n).map(i => f"$prefix$i%02d")
  }

  val tablesYaml: String = s"""
food:
  settings: {missings: error}
  columns:
${yearVersioned(expenditureColumns)}
durable:
  settings: {missings: error}
  columns:
${yearVersioned(expenditureColumns)}
household_information:
  columns:
${yearVersioned(householdColumns)}
members_properties:
  columns:
${yearVersioned(memberColumns)}
"""

  val schemaYaml: String = """
food:
  instructions:
    - add_year
    - add_table_name
    - create_column: {name: Duration, type: numerical, expression: 30}
durable:
  instructions:
    - add_year
    - add_table_name
    - create_column: {name: Duration, type: numerical, expression: 360}
household_information:
  instructions:
    - add_year
members_properties:
  instructions:
    - add_year
Original_Expenditures:
  table_list: [food, durable]
  instructions:
    - create_column: {name: Gross_Expenditure, type: numerical, expression: "Expenditure / Duration * 360"}
Expenditures:
  table_list: Original_Expenditures
  cache_result: true
Total_Expenditure:
  table_list: Expenditures
  instructions:
    - apply_pandas_function: 'table.groupby(["Year", "ID"])[["Gross_Expenditure"]].sum().reset_index()'
Number_of_Members:
  table_list: members_properties
  instructions:
    - apply_external_function: schema_functions.number_of_members
Equivalence_Scale:
  table_list: Number_of_Members
  instructions:
    - apply_external_function: schema_functions.equivalence_scale
"""

  val commoditiesYaml: String = s"""
Food_NonFood:
  defaults:
    levels: [1]
    column_names: [Food_NonFood]
    missing_value_replacements: {Food_NonFood: NonFood}
  items:
    Food:
      level: 1
      code:
        $FirstYear: {start: 11000, end: ${foodEnd(FirstYear)}}
        $FoodRangeYear: {start: 11000, end: ${foodEnd(FoodRangeYear)}}
    NonFood:
      level: 1
"""

  val householdYaml: String = s"""
ID_Length: 8
Urban_Rural:
  code:
    position: {start: 0, end: 1}
  name: {1: Urban, 2: Rural}
Province:
  code:
    position: {start: 1, end: 3}
  name: {${Provinces.map { case (c, n) => s"$c: $n" }.mkString(", ")}}
"""
}
