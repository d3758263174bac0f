package graft.ext

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs one block submits, in submission order. A job group
  * tags them (broadcast and subquery threads inherit it), and a
  * sentinel job submitted after the block proves the listener bus has
  * delivered every earlier job start, so the count is complete when
  * this returns.
  */
object JobCapture {
  private val seq = new AtomicInteger

  def apply[T](ss: SparkSession)(body: => T): (T, Seq[SparkListenerJobStart]) = {
    val sc = ss.sparkContext
    val group = s"job-capture-${seq.incrementAndGet()}"
    val sentinel = s"$group-end"
    val seen = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val delivered = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => seen.add(e)
          case Some(`sentinel`) => delivered.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(delivered.await(60, TimeUnit.SECONDS),
        "the listener bus did not deliver the sentinel job")
      (out, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** Whether a job runs over a `parallelize`d collection — the shape of
    * parquet's schema-inference job.
    */
  def parallelizes(e: SparkListenerJobStart): Boolean =
    e.stageInfos.exists(_.rddInfos.exists(_.name == "ParallelCollectionRDD"))
}
