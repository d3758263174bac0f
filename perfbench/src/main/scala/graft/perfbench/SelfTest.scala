package graft.perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession

/** Shows that every correctness gate fires: each small workload runs
  * once clean (no gate may fire) and once per gate with that gate's
  * checked output corrupted (the gate must fire).
  */
object SelfTest {
  val gates: Seq[(String, Seq[String])] = Seq(
    "chunk-store" -> Seq("dedup_file_ids", "dedup_pointers", "restore_bytes", "lookup_hash",
      "lookup_line", "catalog_stats"),
    "doc-neardup" -> Seq("minhash_jaccard"),
    "vector-ann" -> Seq("ivf_k_distinct"))

  /** Set-up, the iterations and the end-of-run gates of a small
    * instance of `workload`, with `corrupt`'s output corrupted.
    */
  def small(spark: SparkSession, dir: Path, workload: String,
            corrupt: String = ""): Run = {
    val r = new Run(spark, None, dir)
    r.corrupt = corrupt
    val w = Workload(workload, r, seed = 7L, small = true)
    w.setup(r.dir("setup"))
    (0 until w.iterations).foreach(w.step)
    w.finish()
    Fs.deleteTree(dir)
    r
  }

  def run(spark: SparkSession, work: Path): Int = {
    val results = for {
      (workload, gs) <- gates
      gate <- "" +: gs
    } yield {
      val r = small(spark,
        work.resolve(s"$workload-${if (gate.isEmpty) "clean" else gate}"), workload, gate)
      val ok =
        if (gate.isEmpty) r.failed == 0
        else r.failures.exists(_.startsWith(s"gate $gate:"))
      val what = if (gate.isEmpty) "clean run passes every gate" else s"gate $gate fires"
      println(s"selftest $workload: $what: ${if (ok) "ok" else "NOT OK"}")
      r.failures.foreach(f => println(s"  $f"))
      ok
    }
    println(s"selftest: ${results.count(identity)}/${results.size} ok")
    if (results.forall(identity)) 0 else 1
  }
}
