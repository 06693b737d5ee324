package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Data-test operators (A5) — the dbt `unique` / `not_null` schema
  * tests (`dbt/crime_dbt_postgres/models/example/schema.yml:10-21`) as
  * violation-reporting queries.
  *
  * Each check returns a VIOLATION frame (empty ⇒ pass) so callers can
  * inspect, count, or persist offending rows — the dbt failure-rows
  * model. `require*` variants throw on violation for pipeline gating.
  *
  * Scale: uniqueViolations is one map-side-combinable groupBy on the
  * key; notNullViolations is a pushed-down scan filter. Both are single
  * lazy plans.
  */
object DataChecks {

  /** Keys appearing more than once: (key cols..., n_rows). */
  def uniqueViolations(df: DataFrame, cols: Seq[String]): DataFrame =
    df.groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") > 1)

  /** Rows where any of the given columns is NULL. */
  def notNullViolations(df: DataFrame, cols: Seq[String]): DataFrame =
    df.filter(cols.map(col(_).isNull).reduce(_ || _))

  /** Throw if `cols` is not a unique key of `df`. */
  def requireUnique(df: DataFrame, cols: Seq[String]): Unit = {
    val v = uniqueViolations(df, cols).limit(5).collect()
    require(v.isEmpty, s"unique check failed on ${cols.mkString(",")}: ${v.mkString("; ")}")
  }

  /** Throw if any of `cols` contains NULL. */
  def requireNotNull(df: DataFrame, cols: Seq[String]): Unit = {
    val v = notNullViolations(df, cols).limit(5).collect()
    require(v.isEmpty, s"not_null check failed on ${cols.mkString(",")}: ${v.mkString("; ")}")
  }

  /** Zero-extra-pass quality metrics: attach an `Observation` so row /
    * null / min-max statistics are collected DURING whatever action the
    * caller runs on the returned frame (typically the sink write) —
    * production ingest monitoring for free, where [[requireUnique]] /
    * [[requireNotNull]] each cost their own job. Metrics are computed
    * by accumulator on the executors as rows flow through; at 100 TB
    * that is the difference between monitoring and a second scan. The
    * pipeline's not-null gate rides this way on the one action that
    * fills its shared batch's cache
    * ([[graft.pipeline.Runner.loadReplicas]], gated by
    * [[requireNoObservedNulls]]).
    *
    * Observe ABOVE a cache or cut, never beneath one: metrics arrive
    * only when the action executes the observed plan itself, so an
    * observation inside a cached plan whose blocks some other action
    * filled is never delivered, and `obs.get` blocks waiting for it.
    *
    * Collected per column c: `nulls_c`; plus `n_rows`, and `min_c` /
    * `max_c` for the columns in `minMaxCols`. Read the result AFTER an
    * action with `obs.get` — e.g.
    * {{{
    * val (framed, obs) = DataChecks.observed(df, Seq("crime_id"), Seq("ts"))
    * framed.write.parquet(out)          // the ONLY job that runs
    * val nulls = obs.get("nulls_crime_id").asInstanceOf[Long]
    * }}} */
  def observed(
      df: DataFrame,
      nullCols: Seq[String],
      minMaxCols: Seq[String] = Nil): (DataFrame, Observation) = {
    require(nullCols.nonEmpty || minMaxCols.nonEmpty, "nothing to observe")
    val obs = Observation()
    val metrics =
      Seq(count(lit(1)).as("n_rows")) ++
        nullCols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c")) ++
        minMaxCols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    (df.observe(obs, metrics.head, metrics.tail: _*), obs)
  }

  /** The [[requireNotNull]] gate read off an [[observed]] frame's
    * `nulls_c` metrics after its action ran — no job of its own. An
    * empty frame's NULL sums read as zero. */
  def requireNoObservedNulls(obs: Observation, cols: Seq[String]): Unit = {
    val m = obs.get
    val nulls = cols.map(c => c -> (m.get(s"nulls_$c") match { case Some(n: Long) => n; case _ => 0L }))
      .filter(_._2 > 0L)
    require(nulls.isEmpty,
      s"not_null check failed on ${cols.mkString(",")}: ${nulls.map { case (c, n) => s"$n NULL $c" }.mkString("; ")}")
  }
}
