package graft.engine

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec
import graft.operators.TextAnalysis

/** [[Steps.future]]: work handed to the pool runs under the caller's
  * Spark local properties, not those of whichever thread created the
  * pool thread. */
class StepsSpec extends SparkSpec {

  test("the overlapped BM25 segment writes carry the caller's step " +
      "label and job group, and are described as bm25.append") {
    import spark.implicits._
    val sc = spark.sparkContext
    val group = s"steps-${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach(seen.add)
    }
    def prop(p: java.util.Properties, k: String) =
      Option(p.getProperty(k)).getOrElse("")
    def appendJobs = seen.asScala.toSeq
      .filter(p => prop(p, "spark.job.description").startsWith("bm25.append"))
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("steps_bm25").toString
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "caller")
      try Steps.scoped("x") {
        TextAnalysis.bm25AppendSegment(docs, "doc_id", "text", dir, 0)
      } finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (appendJobs.map(prop(_, "spark.job.description")).distinct
          .size < 2 && System.nanoTime() < deadline) Thread.sleep(10)
    } finally sc.removeSparkListener(listener)
    val writes = appendJobs
    assert(writes.map(prop(_, "spark.job.description")).toSet ==
      Set("bm25.append termdict", "bm25.append segstats"))
    writes.foreach { p =>
      assert(prop(p, Steps.Key) == "x", s"step label of $p")
      assert(prop(p, "spark.jobGroup.id") == group, s"job group of $p")
    }
    assert(sc.getLocalProperty(Steps.Key) == null)
  }
}
