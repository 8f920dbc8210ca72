package org.apache.spark.sql.graftconf

import org.apache.spark.sql.{DataFrame, SparkSession, classic}

/** Per-query SQL conf that never touches the caller's session.
  *
  * An operator whose plan needs a sizing conf (the CC loop's shuffle
  * width, the sweep fold's hash threshold) runs it in a CLONE of the
  * caller's session: the clone shares the SparkContext, cache manager
  * and catalog, but its conf is its own copy, so a `set` there can
  * neither leak into the caller's later queries nor race a concurrent
  * query (e.g. a queued compaction rewrite) planned under the caller's
  * conf. A frame's plan is re-homed into the clone, so its actions and
  * every frame derived from it plan under the clone's conf; joining it
  * with a caller frame yields a caller-session frame again.
  *
  * Never `stop()` or `close()` a clone: it shares the SparkContext.
  *
  * The shim sits under `org.apache.spark.sql` because both calls it
  * wraps, `cloneSession` and `Dataset.ofRows`, are `private[sql]`.
  */
object ScopedConf {

  /** A clone of `spark` with `overrides` set on the clone only. */
  def session(spark: SparkSession,
      overrides: (String, String)*): classic.SparkSession = {
    val clone = spark.asInstanceOf[classic.SparkSession].cloneSession()
    overrides.foreach { case (k, v) => clone.conf.set(k, v) }
    clone
  }

  /** `df`'s plan re-homed into a clone of its session with `overrides`
    * set (see [[session]]).
    */
  def withConf(df: DataFrame, overrides: (String, String)*): DataFrame =
    classic.Dataset.ofRows(session(df.sparkSession, overrides: _*),
      df.queryExecution.logical)
}
