package graft.text

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Jobs a BM25 search launches on a committed index layout: the recorded
  * schemas leave no parquet schema-inference job on the read path, and
  * the doc-store `(N, avgLen)` aggregate runs once per commit. */
class SearchJobsSpec extends SparkSpec {
  import spark.implicits._

  /** Call sites of the jobs and SQL executions `f` launches: a job names
    * its final stage ("parquet at LayoutTxn.scala:300"), an execution its
    * action ("head at TextAnalysis.scala:420"; its own jobs run on AQE
    * threads and name no user frame). A marker job run after `f` flushes
    * the listener: events reach it in order, so once the marker arrives
    * every event of `f` has. */
  private def jobSites(f: => Unit): Seq[String] = {
    val marker = s"marker-${java.util.UUID.randomUUID()}"
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var flushed = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .contains(marker)) flushed = true
        else sites.add(e.stageInfos.sortBy(_.stageId).lastOption
          .map(_.name).getOrElse(""))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => sites.add(x.description)
        case _ => ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      f
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (!flushed && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(flushed, "listener never saw the marker job")
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    sites.asScala.toSeq
  }

  test("bm25SearchLayout on a committed layout: no inference job, one stats aggregate per commit, recomputed after a delete") {
    val d = Files.createTempDirectory("idx_jobs").toString + "/idx"
    val docs = Seq(
      (1L, "spark rows spark spark table"),
      (2L, "spark rows"),
      (3L, "disk only here"),
      (4L, "rare word appears once spark"),
      (5L, ""))
      .toDF("doc_id", "text")
    val terms = Seq("spark", "rare")
    def search(): Map[Long, Double] =
      TextAnalysis.bm25SearchLayout(spark, d, terms)
        .as[(Long, Double)].collect().toMap
    TextAnalysis.writeIndexLayout(docs, "doc_id", col("text"), d, buckets = 4)
    val upserted = Seq((6L, "spark spark words")).toDF("doc_id", "text")
    TextAnalysis.indexUpsertLayout(spark, d, upserted, "doc_id", col("text"))

    val first = jobSites(search())
    assert(!first.exists(_.contains("LayoutTxn.scala")),
      s"a committed layout's read inferred its schema: $first")
    assert(first.exists(_.contains("TextAnalysis.scala")),
      s"the first search at a commit computes N/avgLen: $first")
    val second = jobSites(search())
    assert(!second.exists(s => s.contains("LayoutTxn.scala") ||
      s.contains("TextAnalysis.scala")),
      s"a second search at the same commit ran metadata jobs: $second")

    // a delete is a new commit: the first search after it recomputes N
    // (and reads the tombstones), and scores like a rebuilt index
    TextAnalysis.indexDeleteLayout(spark, d, Seq(1L, 3L).toDF("doc_id"),
      "doc_id")
    var afterDelete = Map.empty[Long, Double]
    val sites = jobSites { afterDelete = search() }
    assert(!sites.exists(_.contains("LayoutTxn.scala")), sites.toString)
    assert(sites.exists(_.contains("TextAnalysis.scala")),
      s"the first search after the delete reused stale stats: $sites")
    val rebuilt = Files.createTempDirectory("idx_jobs_rebuilt").toString + "/idx"
    TextAnalysis.writeIndexLayout(
      docs.filter(!col("doc_id").isin(1L, 3L)).unionByName(upserted),
      "doc_id", col("text"), rebuilt, buckets = 4)
    val want = TextAnalysis.bm25SearchLayout(spark, rebuilt, terms)
      .as[(Long, Double)].collect().toMap
    assert(afterDelete.keySet === want.keySet && want.keySet === Set(2L, 4L, 6L))
    afterDelete.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < 1e-12, s"doc $k") }
  }
}
