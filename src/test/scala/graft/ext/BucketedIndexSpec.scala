package graft.ext

import graft.SparkFunSuite
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.types.StructType

/** The shared sidecar codec under every bucketed-index family: build
  * output keeps its exact sidecar bytes and leaves no temp residue, and
  * a malformed sidecar (the empty file a crash between create and write
  * used to leave) is a typed error on append, probe and fold — never a
  * NumberFormatException/MatchError on every replay. The probe reads
  * the index with the family projection's schema, so that schema must
  * be what parquet would infer from the files.
  */
class BucketedIndexSpec extends SparkFunSuite {

  test("minhash default build writes the 16,8,8 sidecar") {
    val (b0, _) = IndexFamilyCase.minHash.batches(spark)
    val path = tempDir("bi-default") + "/index"
    DocDedup.buildMinHashIndex(b0, "id", "text", path)
    assert(new String(Files.readAllBytes(
      Paths.get(path, "_graft_minhash_meta")), "UTF-8") == "16,8,8")
  }

  IndexFamilyCase.all.foreach { c =>
    test(s"${c.name} sidecar: build bytes unchanged, no temp residue") {
      val (b0, _) = c.batches(spark)
      val path = tempDir(s"bi-bytes-${c.name}") + "/index"
      c.build(b0, path)
      assert(new String(Files.readAllBytes(Paths.get(path, c.sidecar)),
        "UTF-8") == c.sidecarBytes)
      val names = new java.io.File(path).list().toSeq
      assert(!names.exists(_.contains(".tmp")), s"temp residue: $names")
    }

    test(s"${c.name} sidecar: malformed file is a typed error") {
      val (b0, b1) = c.batches(spark)
      val dir = tempDir(s"bi-bad-${c.name}")
      val path = s"$dir/index"
      c.build(b0, path)
      val arity = c.sidecarBytes.split(",").length
      // the crash residue: an empty sidecar (its checksum file gone
      // with it), then a wrong-arity one
      Files.delete(Paths.get(path, s".${c.sidecar}.crc"))
      for (bytes <- Seq("", (0 to arity).mkString(","))) {
        Files.write(Paths.get(path, c.sidecar), bytes.getBytes("UTF-8"))
        def typed(what: String)(body: => Any): Unit = {
          val e = intercept[IllegalStateException](body)
          assert(e.getMessage.contains(Paths.get(path, c.sidecar).toString) &&
            e.getMessage.contains(s"expected $arity"),
            s"$what on '$bytes': ${e.getMessage}")
        }
        typed("append")(c.append(b1, path))
        typed("probe")(c.probe(b1, b0, path))
        typed("fold")(c.fold(b1, b0, path, s"$dir/m"))
      }
    }

    test(s"${c.name} index: parquet infers the projection's schema") {
      val (b0, _) = c.batches(spark)
      val path = tempDir(s"bi-schema-${c.name}") + "/index"
      c.build(b0, path)
      // names and types; field order and nullability do not matter to
      // the by-name read. A renamed column would silently read as null.
      def fields(s: StructType) = s.fields.map(f => f.name -> f.dataType).toMap
      assert(fields(spark.read.parquet(path).schema) == fields(c.rows(b0).schema))
    }

    test(s"${c.name} probe submits no schema-inference job") {
      val (b0, b1) = c.batches(spark)
      val dir = tempDir(s"bi-noinfer-${c.name}")
      // parquet-backed inputs: a local relation's scan is itself a
      // parallelize job; their own schemas are inferred here, up front
      b0.write.parquet(s"$dir/b0"); b1.write.parquet(s"$dir/b1")
      val (p0, p1) = (spark.read.parquet(s"$dir/b0"),
        spark.read.parquet(s"$dir/b1"))
      c.build(p0, s"$dir/index")
      val (n, jobs) = JobCapture(spark)(c.probe(p1, p0, s"$dir/index").count())
      assert(n > 0) // twins planted: the pruned read really ran
      val inferring = jobs.filter(JobCapture.parallelizes).map(_.jobId)
      assert(jobs.nonEmpty && inferring.isEmpty,
        s"schema-inference jobs ${inferring.mkString(",")}")
    }
  }
}
