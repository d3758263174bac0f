package graft.ext

import graft.SparkFunSuite
import java.nio.file.{Files, Paths}

/** The shared sidecar codec under every bucketed-index family: build
  * output keeps its exact sidecar bytes and leaves no temp residue, and
  * a malformed sidecar (the empty file a crash between create and write
  * used to leave) is a typed error on append, probe and fold — never a
  * NumberFormatException/MatchError on every replay.
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
  }
}
