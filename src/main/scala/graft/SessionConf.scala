package graft

import org.apache.spark.sql.SparkSession

/** Session SQL settings scoped to one body of code. */
object SessionConf {

  /** Runs `body` with `settings` set on `spark`'s SQL conf, then puts
    * each key back as it found it: a key that was set gets its old value
    * back, a key that was not set is unset again. (`conf.get` and
    * `conf.getOption` report the default for an unset key, so restoring
    * what they return would leave that key explicitly set.) */
  def scoped[T](spark: SparkSession, settings: (String, String)*)(body: => T): T = {
    val set = spark.conf.getAll // explicitly set keys only
    val prev = settings.map { case (k, _) => k -> set.get(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
