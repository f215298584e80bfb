package graft.engine

import scala.concurrent.{ExecutionContext, Future}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

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
  * them — carry the label. Work handed to a thread pool goes through
  * [[future]], which carries the caller's properties over. */
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

  /** `body` as a `Future` on the global pool, run under the calling
    * thread's Spark local properties (step label, job group, scheduler
    * pool) with `label` as its jobs' description. A pool thread keeps
    * the properties of whichever thread created it, so a bare
    * `Future`'s jobs lose them (`cancelJobGroup` misses them). */
  def future[T](label: String)(body: => T): Future[T] = {
    val sc = SparkSession.active.sparkContext
    val props = Bridge.localProperties(sc)
    props.setProperty("spark.job.description", label)
    Future {
      val prev = Bridge.localProperties(sc)
      Bridge.setLocalProperties(sc, props)
      try body finally Bridge.setLocalProperties(sc, prev)
    }(ExecutionContext.global)
  }
}
