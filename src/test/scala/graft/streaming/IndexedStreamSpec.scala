package graft.streaming

import graft.SparkFunSuite
import graft.ext.{MaintenanceEvents, Multimodal}
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}

/** Every index-backed stream through the [[IndexedStream]] skeleton:
  * two micro-batches with a within-batch twin pair in each and a
  * cross-batch twin in the second. The stream must emit exactly the
  * planted pairs (cross pairs oriented (batch id, indexed id), within
  * pairs id_a < id_b), leave no persisted RDDs behind once stopped, and
  * fire `compactEvery = Some(1)` after each batch.
  */
class IndexedStreamSpec extends SparkFunSuite {

  /** (id, seed) rows of the two batches — batch 0: 3 is a twin of 1;
    * batch 1: 101 is a twin of 2 and 103 a twin of 102. Twins share a
    * seed, so their payloads are identical.
    */
  private val feed = Seq(Seq(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 4L),
    Seq(101L -> 2L, 102L -> 5L, 103L -> 5L, 104L -> 6L))
  private val planted = Set((1L, 3L), (101L, 2L), (102L, 103L))

  private def text(seed: Long): String = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(40)(Seq.fill(3 + rnd.nextInt(5))(
      ('a' + rnd.nextInt(26)).toChar).mkString).mkString(" ")
  }
  private def blob(seed: Long): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(3000)(rnd.nextInt(256).toByte)
  }
  private def vec(seed: Long): Array[Float] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(16)(rnd.nextGaussian().toFloat)
  }

  private case class StreamCase(name: String,
      frame: Seq[(Long, Long)] => DataFrame,
      start: (String, String) => MaintainedStream)

  private def frame[T: scala.reflect.runtime.universe.TypeTag](
      payload: Long => T, col: String)(rows: Seq[(Long, Long)]): DataFrame = {
    val s = spark; import s.implicits._
    rows.map { case (id, seed) => (id, payload(seed)) }.toDF("id", col)
  }

  private val cases = Seq(
    StreamCase("near-dup", frame(text, "text"), (in, work) =>
      StreamingNearDup.start(spark, in, work, 7, 10, bands = 8, rows = 4,
        sigBuckets = 4, maxFilesPerTrigger = Some(1),
        compactEvery = Some(1))),
    StreamCase("exact-dup", frame(text, "text"), (in, work) =>
      StreamingExactDup.start(spark, in, work, fpBuckets = 8,
        maxFilesPerTrigger = Some(1), compactEvery = Some(1))),
    StreamCase("cdc-dup", frame(blob, "blob"), (in, work) =>
      StreamingCdcDup.start(spark, in, work, minSize = 256, avgBits = 9,
        maxSize = 4096, hashBuckets = 8, maxFilesPerTrigger = Some(1),
        compactEvery = Some(1))),
    StreamCase("image-dedup", frame(s =>
      Multimodal.syntheticGrayPng(32 + (s % 3).toInt * 8, 32, s * 7), "blob"),
      (in, work) => StreamingImageDedup.start(spark, in, work, maxDist = 3,
        qBuckets = 8, maxFilesPerTrigger = Some(1), compactEvery = Some(1))),
    StreamCase("vec-dup", frame(vec, "vec"), (in, work) =>
      StreamingVecDup.start(spark, in, work, threshold = 0.999, nlist = 2,
        nprobe = 2, maxFilesPerTrigger = Some(1), compactEvery = Some(1))))

  cases.foreach { c =>
    test(s"${c.name} stream: planted matches, no leaks, compaction") {
      val dir = tempDir(s"istream-${c.name}")
      val in = s"$dir/in"; val work = s"$dir/work"
      Files.createDirectories(Paths.get(in))
      // one parquet FILE per batch, mod-time order = batch order under
      // maxFilesPerTrigger = 1
      feed.map(c.frame).zipWithIndex.foreach {
        case (df, i) =>
          df.repartition(1).write.parquet(s"$dir/stage-$i")
          val part = new java.io.File(s"$dir/stage-$i").listFiles()
            .find(f => f.getName.startsWith("part-") &&
              f.getName.endsWith(".parquet")).get
          val dest = Paths.get(s"$in/b$i.parquet")
          Files.copy(part.toPath, dest)
          Files.setLastModifiedTime(dest,
            java.nio.file.attribute.FileTime.fromMillis(
              1700000000000L + i * 60000L))
      }
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val handle = c.start(in, work)
      handle.awaitTermination()
      handle.stop()
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"leaked blocks: $leaked")
      val fires = handle.maintenanceStats()
        .getOrElse(MaintenanceEvents.CompactFire, 0L)
      assert(fires == 2L, s"compactEvery = 1 over 2 batches fired $fires")
      val matches = spark.read.parquet(s"$work/matches")
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(matches == planted)
    }
  }
}
