package graft.dq

import java.time.Instant
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** DQ rules engine (reference `src/dq.py:83-172`): not_null, unique,
  * range, freshness, z-score anomaly, dispatched over a (sampled,
  * cached) DataFrame.
  *
  * Batched for scale: all single-pass rules (not_null/unique/range/
  * freshness + the anomaly stats pass) evaluate in ONE aggregation
  * job; a second job counts outliers for all anomaly rules at once.
  * [[DqEngine.runChecks]] folds that one job into the profile's first
  * pass. The reference runs each rule as its own pandas pass.
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

  /** Backtick-quoted column reference (names may contain dots etc.). */
  private def qcol(name: String) =
    col("`" + name.replace("`", "``") + "`")

  /** Numeric coercion matching pandas `to_numeric(errors="coerce")`:
    * non-numeric values become null instead of throwing under ANSI. */
  private def numCoerce(name: String) =
    qcol(name).try_cast("double")

  /** Evaluate all rules over `df` in at most two aggregation jobs.
    * When anomaly rules are present the second job re-scans `df` for
    * outlier counts; on an uncached non-deterministic input the rows
    * counted in job 2 could differ from the ones job 1 computed stats
    * over, so the frame is pinned for the two-job window unless the
    * caller already cached it ([[runChecks]] does). */
  def evaluate(df: DataFrame, rules: Seq[Rule],
               now: Instant = Instant.now()): Seq[RuleResult] = {
    val mustCache =
      rules.exists(_.isInstanceOf[AnomalyRule]) &&
        df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (mustCache) df.persist()
    try evaluateImpl(df, rules, now)
    finally if (mustCache) df.unpersist()
  }

  private def evaluateImpl(df: DataFrame, rules: Seq[Rule],
                           now: Instant): Seq[RuleResult] = {
    val known = rules.filter(!_.isInstanceOf[UnknownRule])
    // Job 1: every rule contributes aggregate columns to one wide agg;
    // the row count rides along instead of a separate df.count() job.
    val row =
      if (known.isEmpty) null
      else df.agg(count(lit(1)).as("a_total"),
        aggregates(known, _ => false): _*).collect()(0)
    val total =
      if (row == null) 0L else row.getAs[Long]("a_total")
    finish(df, rules, known, row, total, _ => None, now)
  }

  /** Pass-1 aggregate columns of the `known` rules, named `a<i>_*` by
    * rule index. A unique rule for which `profiled(i)` holds adds
    * none: its distinct count comes from the profile. */
  private def aggregates(known: Seq[Rule], profiled: Int => Boolean): Seq[Column] =
    known.zipWithIndex.flatMap { case (r, i) =>
      val c = qcol(r.column)
      r match {
        case _: NotNullRule => Seq(
          sum(c.isNull.cast("long")).as(s"a${i}_nulls"))
        case _: UniqueRule if profiled(i) => Nil
        case _: UniqueRule => Seq(
          count_distinct(c).as(s"a${i}_distinct"))
        case RangeRule(colName, lo, hi) =>
          val cd = numCoerce(colName)
          Seq(
            lo.map(v => sum(when(cd < v, 1L).otherwise(0L)).as(s"a${i}_below"))
              .getOrElse(lit(0L).as(s"a${i}_below")),
            hi.map(v => sum(when(cd > v, 1L).otherwise(0L)).as(s"a${i}_above"))
              .getOrElse(lit(0L).as(s"a${i}_above")))
        case _: FreshnessRule => Seq(
          // try_to_timestamp = pandas to_datetime(errors="coerce"):
          // unparseable → null (ANSI to_timestamp would throw).
          max(try_to_timestamp(c)).cast("long").as(s"a${i}_maxts"))
        case AnomalyRule(colName, _) =>
          // coerce like the reference (`pd.to_numeric(errors='coerce')`,
          // src/dq.py:137): strings/decimals profile as doubles, and a
          // non-numeric column auto-passes instead of an ANSI cast error
          val cd = numCoerce(colName)
          Seq(
            avg(cd).as(s"a${i}_mean"),
            stddev_pop(cd).as(s"a${i}_std"),
            count(cd).as(s"a${i}_n"))
        case _: UnknownRule => Nil
      }
    }

  /** Rule results from pass 1's `row` (null when no rule is known),
    * plus job 2 over `df` for the anomaly rules that need it.
    * `distinctOf(i)` is rule i's distinct count when pass 1 did not
    * compute it. */
  private def finish(df: DataFrame, rules: Seq[Rule], known: Seq[Rule],
      row: Row, total: Long, distinctOf: Int => Option[Long],
      now: Instant): Seq[RuleResult] = {
    def get[T](n: String): Option[T] =
      if (row != null && !row.isNullAt(row.fieldIndex(n)))
        Some(row.getAs[T](n)) else None

    // Job 2: outlier counts for all anomaly rules with usable stats.
    val anomalyIdx = known.zipWithIndex.collect {
      case (a: AnomalyRule, i)
          if get[Double](s"a${i}_std").exists(_ > 0.0) => (a, i)
    }
    val outlierCounts: Map[Int, Long] =
      if (anomalyIdx.isEmpty) Map.empty
      else {
        val cs = anomalyIdx.map { case (a, i) =>
          val mean = get[Double](s"a${i}_mean").get
          val std = get[Double](s"a${i}_std").get
          sum(when(abs(numCoerce(a.column) - mean) / std > a.sigma, 1L)
            .otherwise(0L)).as(s"o$i")
        }
        val r = df.agg(cs.head, cs.tail: _*).collect()(0)
        anomalyIdx.map { case (_, i) => i -> r.getAs[Long](s"o$i") }.toMap
      }

    rules.map { rule =>
      val i = known.indexOf(rule)
      rule match {
        case NotNullRule(colName) =>
          val nulls = get[Long](s"a${i}_nulls").getOrElse(0L)
          RuleResult("not_null", colName, nulls == 0, Map(
            "nulls" -> nulls.toString, "total" -> total.toString,
            "null_rate_pct" -> pct(nulls, total).toString))
        case UniqueRule(colName) =>
          // Reference formula (`src/dq.py:104-106`): dupes = total −
          // nunique(non-null); every null row counts as a duplicate.
          val distinct = distinctOf(i).orElse(get[Long](s"a${i}_distinct")).getOrElse(0L)
          val dupes = total - distinct
          RuleResult("unique", colName, dupes == 0, Map(
            "duplicates" -> dupes.toString, "total" -> total.toString))
        case RangeRule(colName, lo, hi) =>
          val below = get[Long](s"a${i}_below").getOrElse(0L)
          val above = get[Long](s"a${i}_above").getOrElse(0L)
          RuleResult("range", colName, below + above == 0, Map(
            "below_min" -> below.toString, "above_max" -> above.toString,
            "min" -> lo.map(_.toString).getOrElse(""),
            "max" -> hi.map(_.toString).getOrElse("")))
        case FreshnessRule(colName, maxAge) =>
          get[Long](s"a${i}_maxts") match {
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
          val n = get[Long](s"a${i}_n").getOrElse(0L)
          val std = get[Double](s"a${i}_std").getOrElse(0.0)
          // Empty or zero-variance input auto-passes (`src/dq.py:139-141`).
          if (n == 0 || std == 0.0)
            RuleResult("anomaly", colName, passed = true, Map(
              "outliers" -> "0", "checked" -> n.toString,
              "sigma" -> sigma.toString))
          else {
            val outliers = outlierCounts.getOrElse(i, 0L)
            RuleResult("anomaly", colName, outliers == 0, Map(
              "outliers" -> outliers.toString, "checked" -> n.toString,
              "mean" -> get[Double](s"a${i}_mean").get.toString,
              "std" -> std.toString, "sigma" -> sigma.toString))
          }
        case UnknownRule(t, colName) =>
          RuleResult(t, colName, passed = false,
            Map("error" -> s"unknown rule type: $t"))
      }
    }
  }

  /** Sample → profile → rules → report (reference `src/dq.py:153-172`,
    * §3.3 lifecycle). `limit` clamps to [1, 200000] like the reference
    * (`src/dq.py:19-21`, `src/config.py:195-196`).
    *
    * The rules ride in the profile's pass-1 aggregation, and a unique
    * rule reads the profile's exact distinct count, so a check runs
    * the profile's two jobs plus the outlier job of [[evaluate]] when
    * an anomaly rule has usable stats. The results equal
    * [[evaluate]]'s on the same sample.
    */
  def runChecks(df: DataFrame, rules: Seq[Rule], limit: Int = 10000,
                where: Option[String] = None,
                now: Instant = Instant.now()): DqReport = {
    graft.metrics.Metrics.inc("dq_requests_total", Map("route" -> "check"))
    val clamped = math.max(1, math.min(limit, 200000))
    // A caller that already clamped AND persisted its sample (the
    // facade's dqCheck does, so rule evaluation and the returned
    // sample_rows come from ONE materialization) is checked as it is:
    // a second limit could not drop a row, and every query over it
    // would carry a generated limit whose source differs per call.
    val reuse = where.isEmpty &&
      df.storageLevel != org.apache.spark.storage.StorageLevel.NONE &&
      df.queryExecution.analyzed.maxRows.exists(_ <= clamped)
    val sample =
      if (reuse) df
      else where.foldLeft(df)((d, p) => d.where(p)).limit(clamped).cache()
    try {
      val known = rules.filter(!_.isInstanceOf[UnknownRule])
      // the sample's field each unique rule names, when exactly one
      // field matches under the session's case sensitivity; any other
      // name keeps its own count_distinct (a missing column still
      // fails analysis)
      val fields = sample.schema.fieldNames.toSeq
      val resolver = sample.sparkSession.sessionState.conf.resolver
      val uniqueField: Map[Int, Int] = known.zipWithIndex.flatMap {
        case (u: UniqueRule, i) =>
          fields.indices.filter(j => resolver(fields(j), u.column)) match {
            case Seq(j) => Some(i -> j)
            case _ => None
          }
        case _ => None
      }.toMap
      val (prof, row) = Profiler.profileWith(sample,
        aggregates(known, uniqueField.contains))
      val results = finish(sample, rules, known, row, row.getAs[Long]("n"),
        i => uniqueField.get(i).map(prof(_).distinct), now)
      results.foreach(r => graft.metrics.Metrics.inc(
        "dq_checks_total", Map("passed" -> r.passed.toString)))
      DqReport(prof, results, Report.render(prof, results))
    } finally if (!reuse) sample.unpersist()
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
