package graft.dq

import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The DQ rules run as Spark aggregates, in at most two jobs: one wide
  * aggregation for every rule, then one counting the anomaly rules'
  * outliers against the first job's mean and std. An oracle for the
  * folds of [[DqEngine.runChecks]]; `df` should be cached when it holds
  * an anomaly rule, so both jobs read the same rows. */
object SparkRules {

  private def pct(x: Long, total: Long): Double =
    if (total == 0) 0.0
    else BigDecimal(100.0 * x / total).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def qcol(name: String) = col("`" + name.replace("`", "``") + "`")

  private def numCoerce(name: String) = qcol(name).try_cast("double")

  def evaluate(df: DataFrame, rules: Seq[Rule], now: Instant): Seq[RuleResult] = {
    val known = rules.filter(!_.isInstanceOf[UnknownRule])
    val aggs: Seq[Column] = known.zipWithIndex.flatMap { case (r, i) =>
      val c = qcol(r.column)
      r match {
        case _: NotNullRule => Seq(sum(c.isNull.cast("long")).as(s"a${i}_nulls"))
        case _: UniqueRule => Seq(count_distinct(c).as(s"a${i}_distinct"))
        case RangeRule(name, lo, hi) =>
          val cd = numCoerce(name)
          Seq(
            lo.fold(lit(0L))(v => sum(when(cd < v, 1L).otherwise(0L))).as(s"a${i}_below"),
            hi.fold(lit(0L))(v => sum(when(cd > v, 1L).otherwise(0L))).as(s"a${i}_above"))
        case _: FreshnessRule => Seq(max(try_to_timestamp(c)).cast("long").as(s"a${i}_maxts"))
        case AnomalyRule(name, _) =>
          val cd = numCoerce(name)
          Seq(avg(cd).as(s"a${i}_mean"), stddev_pop(cd).as(s"a${i}_std"), count(cd).as(s"a${i}_n"))
        case _: UnknownRule => Nil
      }
    }
    val row: Row =
      if (known.isEmpty) null else df.agg(count(lit(1)).as("a_total"), aggs: _*).collect()(0)
    val total = if (row == null) 0L else row.getAs[Long]("a_total")
    def get[T](n: String): Option[T] =
      if (row != null && !row.isNullAt(row.fieldIndex(n))) Some(row.getAs[T](n)) else None

    val anomalies = known.zipWithIndex.collect {
      case (a: AnomalyRule, i) if get[Double](s"a${i}_std").exists(_ > 0.0) => (a, i)
    }
    val outliers: Map[Int, Long] =
      if (anomalies.isEmpty) Map.empty
      else {
        val cs = anomalies.map { case (a, i) =>
          sum(when(abs(numCoerce(a.column) - get[Double](s"a${i}_mean").get) /
            get[Double](s"a${i}_std").get > a.sigma, 1L).otherwise(0L)).as(s"o$i")
        }
        val r = df.agg(cs.head, cs.tail: _*).collect()(0)
        anomalies.map { case (_, i) => i -> r.getAs[Long](s"o$i") }.toMap
      }

    rules.map { rule =>
      val i = known.indexOf(rule)
      rule match {
        case NotNullRule(name) =>
          val nulls = get[Long](s"a${i}_nulls").getOrElse(0L)
          RuleResult("not_null", name, nulls == 0, Map("nulls" -> nulls.toString,
            "total" -> total.toString, "null_rate_pct" -> pct(nulls, total).toString))
        case UniqueRule(name) =>
          val dupes = total - get[Long](s"a${i}_distinct").getOrElse(0L)
          RuleResult("unique", name, dupes == 0,
            Map("duplicates" -> dupes.toString, "total" -> total.toString))
        case RangeRule(name, lo, hi) =>
          val below = get[Long](s"a${i}_below").getOrElse(0L)
          val above = get[Long](s"a${i}_above").getOrElse(0L)
          RuleResult("range", name, below + above == 0, Map(
            "below_min" -> below.toString, "above_max" -> above.toString,
            "min" -> lo.map(_.toString).getOrElse(""), "max" -> hi.map(_.toString).getOrElse("")))
        case FreshnessRule(name, maxAge) =>
          get[Long](s"a${i}_maxts") match {
            case None => RuleResult("freshness", name, passed = false, Map("error" -> "no timestamps"))
            case Some(maxEpoch) =>
              val ageHours = (now.getEpochSecond - maxEpoch) / 3600.0
              RuleResult("freshness", name, ageHours <= maxAge, Map(
                "age_hours" -> f"$ageHours%.4f", "max_age_hours" -> maxAge.toString))
          }
        case AnomalyRule(name, sigma) =>
          val n = get[Long](s"a${i}_n").getOrElse(0L)
          val std = get[Double](s"a${i}_std").getOrElse(0.0)
          if (n == 0 || std == 0.0)
            RuleResult("anomaly", name, passed = true,
              Map("outliers" -> "0", "checked" -> n.toString, "sigma" -> sigma.toString))
          else {
            val o = outliers.getOrElse(i, 0L)
            RuleResult("anomaly", name, o == 0, Map(
              "outliers" -> o.toString, "checked" -> n.toString,
              "mean" -> get[Double](s"a${i}_mean").get.toString,
              "std" -> std.toString, "sigma" -> sigma.toString))
          }
        case UnknownRule(t, name) =>
          RuleResult(t, name, passed = false, Map("error" -> s"unknown rule type: $t"))
      }
    }
  }
}
