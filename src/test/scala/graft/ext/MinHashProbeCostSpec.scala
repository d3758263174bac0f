package graft.ext

import graft.SparkFunSuite
import org.apache.spark.sql.execution.LogicalRDD

/** What one `probeMinHashIndex(...).collect()` costs in Spark jobs on a
  * small fixture, and that it leaves nothing persisted behind but the
  * checkpoint backing its own result (the candidate checkpoint and the
  * banded probe rows are released before it returns).
  */
class MinHashProbeCostSpec extends SparkFunSuite {

  test("probeMinHashIndex collect: 14 jobs, no leaked persisted RDD") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val words = Vector.tabulate(400)(i => s"w$i")
    def doc(): String = Seq.fill(40)(words(rnd.nextInt(words.size))).mkString(" ")
    val texts = Vector.fill(60)(doc())
    val dir = tempDir("mh-probe-cost")
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .write.parquet(s"$dir/corpus")
    // four twins of corpus docs (one word changed) and four new docs
    (texts.take(4).zipWithIndex.map { case (t, i) =>
      (1000L + i, t.replaceFirst("^w\\d+", "changed")) } ++
      (4 until 8).map(i => (1000L + i, doc()))).toDF("id", "text")
      .write.parquet(s"$dir/probes")
    val corpus = spark.read.parquet(s"$dir/corpus")
    val probes = spark.read.parquet(s"$dir/probes")
    DocDedup.buildMinHashIndex(corpus, "id", "text", s"$dir/index")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val ((out, pairs), jobs) = JobCapture(spark) {
      val out = DocDedup.probeMinHashIndex(probes, corpus, "id", "text",
        s"$dir/index", 7, 10)
      (out, out.select("id_a", "id_b").as[(Long, Long)].collect().toSet)
    }
    assert((0 until 4).forall(i => pairs.contains((1000L + i, i.toLong))),
      s"planted twins missing: $pairs")
    val nJobs = jobs.length
    assert(nJobs == 14, s"job ids ${jobs.map(_.jobId).mkString(",")}")
    val result = out.queryExecution.logical.collect {
      case r: LogicalRDD => r.rdd.id }.toSet
    assert(result.size == 1)
    assert(sc.getPersistentRDDs.keySet -- before == result)
  }
}
