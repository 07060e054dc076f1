package graft.perfbench

import org.apache.spark.sql.Row

/** The serve workload's expected analytics answers, computed in plain
  * Scala from the processed business-owner rows: the comprehensive
  * report, `v_role_distribution` and `v_owner_demographics`, following
  * the definitions in `Report` and `StarSchema` (owner dimension keyed
  * by full name and legal entity; individuals matched by name,
  * corporate owners by entity; unseeded titles count as OTHER).
  */
object Expected {
  /** One processed business-owner row. */
  final case class Owner(account: Long, legal: String, full: String, first: String,
                         last: String, entity: String, title: String) {
    def individual: Boolean = entity == null
  }

  /** One `dim_role` seed row. */
  final case class Role(title: String, category: String, leadership: Boolean,
                        ownership: Boolean)

  private type OwnerKey = (String, String) // (full name, legal entity)

  private def length(s: String): Int = s.codePointCount(0, s.length)

  /** Ordered top-k (value, count) pairs, ties broken by value. */
  private def topK(values: Seq[String], k: Int): List[List[Any]] =
    values.filter(_ != null).groupBy(identity).toSeq
      .map { case (v, xs) => (v, xs.size.toLong) }
      .sortBy { case (v, c) => (-c, v) }.take(k)
      .map { case (v, c) => List(v, c) }.toList

  /** The report row, flattened to dotted field names. Doubles are
    * compared within 1e-6 (the report snaps them to six decimals).
    */
  def report(os: Seq[Owner]): Map[String, Any] = {
    val individual = os.filter(_.individual)
    val accounts = os.map(_.account).distinct.size
    val named = os.flatMap(o => Option(o.legal))
    def matching(re: String): Long = named.count(n => re.r.findFirstIn(n).isDefined).toLong
    val lastCounts = individual.flatMap(o => Option(o.last)).groupBy(identity)
      .values.map(_.size.toDouble).toSeq
    val tot = lastCounts.sum
    val log2 = (x: Double) => math.log(x) / math.log(2)
    Map(
      "ownership_patterns.total_records" -> os.size.toLong,
      "ownership_patterns.total_businesses" -> accounts.toLong,
      "ownership_patterns.unique_owners" -> os.flatMap(o => Option(o.full)).distinct.size.toLong,
      "ownership_patterns.avg_owners_per_business" -> os.size.toDouble / accounts,
      "name_demographics.top_first_names" -> topK(individual.map(_.first), 20),
      "name_demographics.top_last_names" -> topK(individual.map(_.last), 20),
      "role_analysis.top_roles" -> topK(os.map(_.title), 10),
      "business_names.named_businesses" -> named.size.toLong,
      "business_names.llc_count" -> matching("\\bLLC\\b"),
      "business_names.inc_count" -> matching("\\bINC\\b"),
      "business_names.corp_count" -> matching("\\bCORP\\b"),
      "business_names.has_digits" -> matching("[0-9]"),
      "diversity.last_name_entropy" -> (log2(tot) - lastCounts.map(c => c * log2(c)).sum / tot),
      "diversity.last_name_gini" -> (1.0 - lastCounts.map(c => c * c).sum / (tot * tot)))
  }

  /** A report row in [[report]]'s shape. */
  def flatten(r: Row, prefix: String = ""): Map[String, Any] =
    r.schema.fieldNames.zipWithIndex.flatMap { case (f, i) =>
      r.get(i) match {
        case s: Row => flatten(s, s"$prefix$f.")
        case xs: scala.collection.Seq[_] =>
          Map(s"$prefix$f" -> xs.map { case x: Row => x.toSeq.toList; case x => x }.toList)
        case v => Map(s"$prefix$f" -> v)
      }
    }.toMap

  def sameReport(got: Map[String, Any], want: Map[String, Any]): Boolean =
    got.keySet == want.keySet && want.forall {
      case (k, w: Double) => got(k) match {
        case g: Double => math.abs(g - w) <= 1e-6
        case _ => false
      }
      case (k, w) => got(k) == w
    }

  /** `fact_business_ownership` as (account, owner, title) triples. */
  private def fact(os: Seq[Owner]): Set[(Long, OwnerKey, String)] = {
    val dim = os.map(o => (o.full, o.entity)).distinct
    val byName = dim.filter { case (f, e) => e == null && f != null }.map(k => k._1 -> k).toMap
    val byEntity = dim.filter(_._2 != null).groupBy(_._2)
    os.flatMap { o =>
      val owners = Option(o.full).flatMap(byName.get).toSeq ++
        Option(o.entity).toSeq.flatMap(e => byEntity.getOrElse(e, Nil))
      owners.map(k => (o.account, k, o.title))
    }.toSet
  }

  private def fmt(v: Any): String = v match {
    case d: Double => f"$d%.6f"
    case null => "null"
    case x => x.toString
  }

  private def line(vs: Any*): String = vs.map(fmt).mkString("|")

  /** `v_role_distribution` rows, each rendered as one line, sorted. */
  def roleDistribution(os: Seq[Owner], roles: Seq[Role]): Seq[String] = {
    val seeded = roles.map(_.title).toSet
    val byRole = fact(os).groupBy { case (_, _, t) => if (seeded(t)) t else "OTHER" }
    val counts = roles.filter(r => byRole.contains(r.title)).map { r =>
      val fs = byRole(r.title)
      (r, fs.map(_._2).size.toLong, fs.map(_._1).size.toLong)
    }
    val tot = counts.map(_._2).sum.toDouble
    counts.map { case (r, owners, businesses) =>
      line(r.title, r.category, r.leadership, r.ownership, owners, businesses,
        math.floor(owners.toDouble * 100.0 / tot * 100 + 0.5) / 100)
    }.sorted
  }

  def roleDistributionOf(rows: Seq[Row]): Seq[String] = rows.map { r =>
    line(r.getAs[String]("title"), r.getAs[String]("role_category"),
      r.getAs[Boolean]("is_leadership"), r.getAs[Boolean]("is_ownership"),
      r.getAs[Long]("total_owners"), r.getAs[Long]("total_businesses"),
      r.getAs[Double]("percentage"))
  }.sorted

  /** `v_owner_demographics` rows without the owner id and name parts,
    * each rendered as one line, sorted; and per (full name, individual)
    * the (first, last) name pairs the owner's rows carry, one of which
    * the view must show.
    */
  def ownerDemographics(os: Seq[Owner], roles: Seq[Role])
      : (Seq[String], Map[(String, Boolean), Set[(String, String)]]) = {
    val seeded = roles.map(_.title).toSet
    val lines = fact(os).groupBy(_._2).toSeq.map { case ((full, entity), fs) =>
      val len = Option(full).map(length)
      val score = len.map(l => if (l > 20) 0.8 else if (l > 10) 0.6 else 0.4).getOrElse(0.4)
      line(full, entity == null, if (entity == null) "Individual" else "Corporate",
        fs.map(_._1).size.toLong, fs.map(f => if (seeded(f._3)) f._3 else "OTHER").size.toLong,
        len.fold[Any](null)(identity), score)
    }.sorted
    val names = os.groupBy(o => (o.full, o.individual))
      .map { case (k, xs) => k -> xs.map(o => (o.first, o.last)).toSet }
    (lines, names)
  }

  def ownerDemographicsOf(rows: Seq[Row]): (Seq[String], Seq[((String, Boolean), (String, String))]) = {
    val lines = rows.map { r =>
      line(r.getAs[String]("full_name"), r.getAs[Boolean]("is_individual"),
        r.getAs[String]("owner_type"), r.getAs[Long]("businesses_owned"),
        r.getAs[Long]("unique_roles"), r.get(r.fieldIndex("name_length")),
        r.getAs[Double]("complexity_score"))
    }.sorted
    val names = rows.map(r => (r.getAs[String]("full_name"), r.getAs[Boolean]("is_individual")) ->
      (r.getAs[String]("first_name"), r.getAs[String]("last_name")))
    (lines, names)
  }
}
