package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.engine.Steps

/** Job accounting for specs that count a body's Spark jobs per
  * [[Steps]] label. */
trait StepJobs { self: SparkSpec =>

  /** (`graft.step` label or "", job group) of every job started while
    * `body` runs, from any thread — delimited by two probe jobs, which
    * the listener sees in submission order. */
  def stepsDuring[A](body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val mark = s"steps-${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        seen.add((p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
            .getOrElse(""),
          p.flatMap(x => Option(x.getProperty(Steps.Key))).getOrElse("")))
      }
    }
    def probe(tag: String): Unit = {
      sc.setJobGroup(s"$mark-$tag", tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      probe("start")
      val out = body
      probe("end")
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.asScala.exists(_._1 == s"$mark-end") &&
        System.nanoTime() < deadline) Thread.sleep(10)
      val order = seen.asScala.toSeq
      val from = order.indexWhere(_._1 == s"$mark-start")
      val to = order.indexWhere(_._1 == s"$mark-end")
      assert(from >= 0 && to > from, order.mkString(","))
      (out, order.slice(from + 1, to).map(_._2))
    } finally sc.removeSparkListener(listener)
  }

  /** Job count per label. */
  def perStep(labels: Seq[String]): Map[String, Int] =
    labels.groupBy(identity).map { case (k, v) => k -> v.size }
}
