package hbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Expected outputs, derived from the generated inputs in plain Scala, and
  * the order-independent row checksum both sides are reduced to.
  */
object Expected {
  import Fixture._

  /** Row count plus a sum of per-row hashes over the key and the value in
    * hundredths: equal for any row order.
    */
  final case class Digest(rows: Long, checksum: Long) {
    override def toString: String = s"rows=$rows checksum=$checksum"
  }

  def digest(rows: Iterable[(String, Double)]): Digest = {
    var sum = 0L
    var n = 0L
    rows.foreach { case (k, v) =>
      val cents = if (v.isNaN) Long.MinValue else math.round(v * 100)
      sum += MurmurHash3.stringHash(s"$k|$cents").toLong
      n += 1
    }
    Digest(n, sum)
  }

  /** Digest of collected rows: every column but `valueCol` forms the key. */
  def digestRows(rows: Array[Row], valueCol: String): Digest =
    digest(rows.toSeq.map { r =>
      val names = r.schema.fieldNames
      val key = names.filter(_ != valueCol).sorted.map(n => String.valueOf(r.get(names.indexOf(n))))
        .mkString("|")
      val v = r.get(names.indexOf(valueCol))
      key -> (if (v == null) Double.NaN else v.asInstanceOf[Number].doubleValue)
    })

  private def key(parts: Any*): String = parts.map(String.valueOf).mkString("|")

  def totalExpenditure(s: Survey): Map[(Int, Long), Double] =
    s.lines.groupMapReduce(l => (l.year, l.id))(_.gross)(_ + _)

  private def weights(s: Survey): Map[(Int, Long), Long] =
    s.households.iterator.map(h => (h.year, h.id) -> h.weight).toMap

  // key columns are sorted by name in digestRows: ID < Year, Food_NonFood < Year, ...

  def loadTotal(s: Survey): Digest =
    digest(totalExpenditure(s).map { case ((y, id), g) => key(id, y) -> g })

  def foodNonFood(s: Survey): Digest =
    digest(s.lines.groupMapReduce { l =>
      val food = !l.durable && l.code >= 11000 && l.code < foodEnd(l.year)
      (l.year, if (food) "Food" else "NonFood")
    }(_.gross)(_ + _).map { case ((y, label), g) => key(label, y) -> g })

  def selectProvince(s: Survey, province: String): Digest =
    digest(totalExpenditure(s).collect {
      case ((y, id), g) if provinceName(id) == province => key(id, y) -> g
    })

  private def weightedMean(xs: Seq[(Double, Long)]): Double =
    xs.map { case (x, w) => x * w }.sum / xs.map(_._2).sum.toDouble

  def urbanRuralAverage(s: Survey): Digest = {
    val w = weights(s)
    digest(totalExpenditure(s).toSeq
      .groupBy { case ((y, id), _) => (y, urbanRural(id)) }
      .map { case ((y, ur), rows) =>
        key(ur, y) -> weightedMean(rows.map { case (k, g) => (g, w(k)) })
      })
  }

  /** Stats.addDecile semantics: per year, order by (value, ID), cumulative
    * weight share q, decile = clip(floor(q * 10) + 1, 1, 10).
    */
  def decileAverage(s: Survey): Digest = {
    val w = weights(s)
    val rows = totalExpenditure(s).toSeq.groupBy(_._1._1).toSeq.flatMap { case (y, hh) =>
      val sorted = hh.sortBy { case ((_, id), g) => (g, id) }
      val total = sorted.map { case (k, _) => w(k) }.sum
      var cum = 0L
      sorted.map { case (k, g) =>
        cum += w(k)
        val d = math.min(math.max(math.floor(cum.toDouble / total.toDouble * 10).toInt + 1, 1), 10)
        ((y, d), (g, w(k)))
      }
    }
    digest(rows.groupBy(_._1).map { case ((y, d), xs) => key(d, y) -> weightedMean(xs.map(_._2)) })
  }

  def oecdAdjusted(s: Survey): Digest = {
    val hh = s.households.iterator.map(h => (h.year, h.id) -> h).toMap
    digest(totalExpenditure(s).map { case (k @ (y, id), g) =>
      val h = hh(k)
      val adults = h.adults.toLong
      val childs = h.ages.length - adults
      val scale = adults.toDouble * 0.7 + childs.toDouble * 0.5 + 0.3
      key(id, y) -> g / scale
    })
  }
}
