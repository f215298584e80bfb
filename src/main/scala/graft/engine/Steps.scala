package graft.engine

import org.apache.spark.sql.SparkSession

/** Step labels for Spark jobs: every job submitted inside
  * `Steps.scoped(name) { ... }` carries the `graft.step` local property
  * `name`, so a job listener can attribute it to the operator step that
  * ran it (`refresh.dirty`, `drift.commit`, …) instead of an anonymous
  * call site.
  *
  * Shaped like [[Caching.scoped]]: the label is set on entry and the
  * previous value (or none) restored on exit, so scopes nest and an
  * exception never leaks a label onto later jobs. Spark local properties
  * are per thread; jobs a scope submits from the calling thread — and
  * from the broadcast and adaptive-stage threads Spark itself starts for
  * them — carry the label. Threads the caller created earlier do not. */
object Steps {

  /** The local-property key jobs are labelled under. */
  val Key = "graft.step"

  def scoped[T](name: String)(body: => T): T = {
    val sc = SparkSession.active.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, name)
    try body
    finally sc.setLocalProperty(Key, prev)
  }
}
