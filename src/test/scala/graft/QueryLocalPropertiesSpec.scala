package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Queries that run Spark jobs from concurrent futures (`knn_mmr`'s two
  * greedy chains, `text_bpe_perlang_artifact`'s per-language trainings)
  * run them under the caller's SparkContext local properties, so a job
  * group, description or tag set by the caller reaches every job and a
  * `cancelJobGroup` cancels them.
  */
class QueryLocalPropertiesSpec extends SparkSpec {

  test("knn_mmr and text_bpe_perlang_artifact run every job under the caller's local properties") {
    val sc = spark.sparkContext
    val keys = Seq("knn_mmr", "text_bpe_perlang_artifact")
    // pool threads created now copy this thread's properties as they are
    keys.foreach(k => SparkEntry.queries(k)(spark, sfDir).collect())
    // the per-language trainings run as jobs again, not from the cache
    graft.operators.BpeTrainer.Artifacts.clear()
    val (group, key, tag) = ("graft-query-local-props", "graft.test.tag", "fresh")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Option[java.util.Properties]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(Option(e.properties))
    }
    sc.setJobGroup(group, "concurrent query jobs")
    sc.setLocalProperty(key, tag)
    sc.addSparkListener(listener)
    try {
      keys.foreach(k => SparkEntry.queries(k)(spark, sfDir).collect())
      org.apache.spark.GraftTestBridge.drainListenerBus(sc)
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
      sc.setLocalProperty(key, null)
    }
    val seen = jobs.asScala.toSeq.map(_.map(p =>
      (p.getProperty("spark.jobGroup.id"), p.getProperty(key))))
    assert(seen.nonEmpty, "the two queries ran no job")
    assert(seen.forall(_.contains((group, tag))), s"jobs without the caller's properties: $seen")
  }
}
