package graft.dq

import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions.try_to_timestamp

/** DQ rules engine (reference `src/dq.py:83-172`): not_null, unique,
  * range, freshness, z-score anomaly, checked over a bounded sample
  * ([[DqEngine.runChecks]]). The reference runs each rule as its own
  * pandas pass.
  *
  * Freshness takes an injected `now` — never `current_timestamp()` —
  * so results are reproducible (SURVEY.md §2.2 R4).
  */
sealed trait Rule { def column: String; def name: String }
final case class NotNullRule(column: String) extends Rule { val name = "not_null" }
final case class UniqueRule(column: String) extends Rule { val name = "unique" }
final case class RangeRule(column: String, min: Option[Double],
    max: Option[Double]) extends Rule { val name = "range" }
final case class FreshnessRule(column: String,
    maxAgeHours: Double = 24.0) extends Rule { val name = "freshness" }
final case class AnomalyRule(column: String,
    sigma: Double = 3.0) extends Rule { val name = "anomaly" }
/** Unknown rule type from a request — always fails (`src/dq.py:168-170`). */
final case class UnknownRule(ruleType: String,
    column: String) extends Rule { val name = ruleType }

object DqEngine {

  private def pct(x: Long, total: Long): Double =
    if (total == 0) 0.0
    else BigDecimal(100.0 * x / total)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Sample → profile → rules → report (reference `src/dq.py:153-172`,
    * §3.3 lifecycle). `limit` is the caller's row cap, at least 1: the
    * façade passes `data_quality.max_limit` (200 000 by default, the
    * reference's `src/config.py:195-196`), after clamping the request's
    * own limit to it (`src/dq.py:19-21`).
    *
    * One Spark job collects the sample with the profile's inputs and
    * the rules' ([[Profiler]]); the rules then fold over the same rows
    * on the driver, in the same pass order Spark's aggregates used:
    *
    *  - not_null and unique read the profile of the column the rule
    *    names, resolved as Spark resolves it (a name that matches no
    *    column, or two, fails analysis as a Spark query would);
    *  - range and anomaly read `try_cast(c AS DOUBLE)` (pandas
    *    `to_numeric(errors="coerce")`, `src/dq.py:137`: non-numeric
    *    values count as null), compared under Spark's ordering, where
    *    NaN is larger than any number;
    *  - freshness reads `try_to_timestamp(c)` in seconds (pandas
    *    `to_datetime(errors="coerce")`);
    *  - anomaly's mean and std are the profile's folds over its input,
    *    and its outliers a second pass over the collected rows.
    */
  def runChecks(df: DataFrame, rules: Seq[Rule], limit: Int = 10000,
                now: Instant = Instant.now()): DqReport = check(df, rules, limit, now)._1

  /** [[runChecks]] and the sample it checked. */
  private[graft] def check(df: DataFrame, rules: Seq[Rule], limit: Int,
      now: Instant = Instant.now()): (DqReport, Sample) = {
    graft.metrics.Metrics.inc("dq_requests_total", Map("route" -> "check"))
    val sample = df.limit(math.max(1, limit))
    val (profileInputs, profileFold) = Profiler.folds(sample, 5)
    val fields = sample.schema.fieldNames.toSeq
    val resolver = sample.sparkSession.sessionState.conf.resolver
    // rule inputs by (kind, column), each projected once
    val inputs = mutable.ArrayBuffer.empty[Column]
    val inputAt = mutable.Map.empty[(String, String), Int]
    def input(kind: String, name: String)(c: => Column): Int =
      inputAt.getOrElseUpdate((kind, name), {
        inputs += c
        fields.size + profileInputs.size + inputs.size - 1
      })
    def fieldOf(name: String): Int =
      fields.indices.filter(j => resolver(fields(j), name)) match {
        case Seq(j) => j
        case _ =>
          sample.select(Sample.quoted(name)) // fails analysis, as Spark words it
          throw new IllegalArgumentException(s"cannot resolve column $name")
      }
    // per rule: the field it reads, a column of the sample or an input
    val at: Seq[Int] = rules.map {
      case r @ (_: NotNullRule | _: UniqueRule) => fieldOf(r.column)
      case _: UnknownRule => -1
      case r: FreshnessRule =>
        input("seconds", r.column)(try_to_timestamp(Sample.quoted(r.column)).cast("long"))
      case r => input("double", r.column)(Sample.quoted(r.column).try_cast("double"))
    }
    val collected = Sample.collect(sample, profileInputs ++ inputs)
    val prof = profileFold(collected)
    val rows = collected.rows
    val total = rows.length.toLong
    def values(k: Int): Array[Double] =
      rows.iterator.filterNot(_.isNullAt(k)).map(_.getDouble(k)).toArray

    val results = rules.indices.map { i =>
      rules(i) match {
        case NotNullRule(colName) =>
          val nulls = prof(at(i)).nulls
          RuleResult("not_null", colName, nulls == 0, Map(
            "nulls" -> nulls.toString, "total" -> total.toString,
            "null_rate_pct" -> pct(nulls, total).toString))
        case UniqueRule(colName) =>
          // Reference formula (`src/dq.py:104-106`): dupes = total −
          // nunique(non-null); every null row counts as a duplicate.
          val dupes = total - prof(at(i)).distinct
          RuleResult("unique", colName, dupes == 0, Map(
            "duplicates" -> dupes.toString, "total" -> total.toString))
        case RangeRule(colName, lo, hi) =>
          val xs = values(at(i))
          def outside(bound: Option[Double], side: Int): Long = bound.fold(0L)(b =>
            xs.count(x => Integer.signum(SQLOrderingUtil.compareDoubles(x, b)) == side).toLong)
          val below = outside(lo, -1)
          val above = outside(hi, 1)
          RuleResult("range", colName, below + above == 0, Map(
            "below_min" -> below.toString, "above_max" -> above.toString,
            "min" -> lo.map(_.toString).getOrElse(""),
            "max" -> hi.map(_.toString).getOrElse("")))
        case FreshnessRule(colName, maxAge) =>
          val k = at(i)
          rows.iterator.filterNot(_.isNullAt(k)).map(_.getLong(k)).maxOption match {
            case None =>
              RuleResult("freshness", colName, passed = false,
                Map("error" -> "no timestamps"))
            case Some(maxEpoch) =>
              val ageHours = (now.getEpochSecond - maxEpoch) / 3600.0
              RuleResult("freshness", colName, ageHours <= maxAge, Map(
                "age_hours" -> f"$ageHours%.4f",
                "max_age_hours" -> maxAge.toString))
          }
        case AnomalyRule(colName, sigma) =>
          val k = at(i)
          val xs = values(k)
          val n = xs.length
          val stats = Moments.of(collected.parts.map(_.iterator.filterNot(_.isNullAt(k)).map(_.getDouble(k))))
          // Empty or zero-variance input auto-passes (`src/dq.py:139-141`).
          if (n == 0 || stats.std == 0.0)
            RuleResult("anomaly", colName, passed = true, Map(
              "outliers" -> "0", "checked" -> n.toString,
              "sigma" -> sigma.toString))
          else {
            val outliers =
              if (stats.std > 0.0) xs.count(x =>
                SQLOrderingUtil.compareDoubles(math.abs(x - stats.mean) / stats.std, sigma) > 0)
              else 0
            RuleResult("anomaly", colName, outliers == 0, Map(
              "outliers" -> outliers.toString, "checked" -> n.toString,
              "mean" -> stats.mean.toString,
              "std" -> stats.std.toString, "sigma" -> sigma.toString))
          }
        case UnknownRule(t, colName) =>
          RuleResult(t, colName, passed = false,
            Map("error" -> s"unknown rule type: $t"))
      }
    }
    results.foreach(r => graft.metrics.Metrics.inc(
      "dq_checks_total", Map("passed" -> r.passed.toString)))
    (DqReport(prof, results, Report.render(prof, results)), collected)
  }
}

/** Markdown DQ report (reference `src/dq.py:176-198`). */
object Report {
  def render(profile: Seq[ColumnProfile], results: Seq[RuleResult]): String = {
    val sb = new StringBuilder
    val nPassed = results.count(_.passed)
    sb.append("# Data Quality Report\n\n")
    sb.append(s"**Summary:** $nPassed/${results.size} rules passed\n\n")
    sb.append("## Rules\n\n")
    results.foreach { r =>
      val mark = if (r.passed) "✅" else "❌"
      val det = r.details.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }.mkString(", ")
      sb.append(s"- $mark `${r.rule}(${r.column})` $det\n")
    }
    sb.append("\n## Profile\n\n")
    profile.foreach { p =>
      sb.append(s"### ${p.column}\n")
      sb.append(s"- count=${p.count}, nulls=${p.nulls}, distinct=${p.distinct}\n")
      p.numeric.foreach(n => sb.append(
        s"- min=${n.min}, max=${n.max}, mean=${n.mean}, std=${n.stdPop}, " +
          s"p50=${n.p50}, p95=${n.p95}\n"))
      p.timestamp.foreach(t => sb.append(s"- min=${t.min}, max=${t.max}\n"))
      p.stringLength.foreach(l => sb.append(
        s"- min_len=${l.minLen}, max_len=${l.maxLen}, p95_len=${l.p95Len}\n"))
      if (p.topValues.nonEmpty)
        sb.append("- top: " + p.topValues.take(3)
          .map(t => s"${t.value} (${t.count})").mkString(", ") + "\n")
      sb.append("\n")
    }
    sb.toString
  }
}
