package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One persisted bucketed-index family as the table-driven specs drive
  * it: two planted batches and every public entry point behind one
  * shape. `b1` of each family carries a within-batch twin pair and a
  * twin of a `b0` document (the cross-index case); `b0` carries a
  * within-batch pair of its own.
  *
  * @param sidecar      the sidecar file name
  * @param sidecarBytes the sidecar content `build` must write
  * @param matchCols    the match row columns compared across forms
  * @param rows         the family's index projection at `build`'s params
  * @param probe        (probes, corpus, index path) → matches
  * @param within       the non-index within-batch pair form
  * @param fold         (batch, corpus so far, index path, matches path)
  */
final case class IndexFamilyCase(
    name: String, sidecar: String, sidecarBytes: String,
    matchCols: Seq[String],
    batches: SparkSession => (DataFrame, DataFrame),
    rows: DataFrame => DataFrame,
    build: (DataFrame, String) => Unit,
    append: (DataFrame, String) => Unit,
    probe: (DataFrame, DataFrame, String) => DataFrame,
    within: DataFrame => DataFrame,
    fold: (DataFrame, DataFrame, String, String) => Unit)

object IndexFamilyCase {

  private def textBatches(ss: SparkSession): (DataFrame, DataFrame) = {
    import ss.implicits._
    def doc(seed: Int): String =
      s"unique lead $seed " + "the shared long run of text that " +
        "winnowing fingerprints and minhash bands both catch reliably " +
        "across every planted document of this small batch " + s"tail $seed"
    (Seq((1L, doc(1)), (2L, doc(2))).toDF("id", "text"),
      Seq((101L, doc(11)), (102L, doc(12))).toDF("id", "text"))
  }

  val minHash = IndexFamilyCase("minhash", "_graft_minhash_meta", "8,4,4",
    Seq("id_a", "id_b", "common", "na", "nb"), textBatches,
    rows = DocDedup.minHashRows(_, "id", "text")(Seq(8, 4, 4)),
    build = (b, p) => DocDedup.buildMinHashIndex(b, "id", "text", p,
      bands = 8, rows = 4, sigBuckets = 4),
    append = (b, p) => DocDedup.appendToMinHashIndex(b, "id", "text", p),
    probe = (b, c, p) => DocDedup.probeMinHashIndex(b, c, "id", "text", p,
      7, 10),
    within = DocDedup.minHashPairs(_, "id", "text", 7, 10, bands = 8,
      rows = 4),
    fold = (b, c, idx, m) => DocDedup.foldMinHashBatch(b, c, "id", "text",
      idx, m, 7, 10, bands = 8, rows = 4, sigBuckets = 4))

  val hamming = IndexFamilyCase("hamming", "_graft_hamming_meta", "8",
    Seq("id_a", "id_b", "hamming"),
    { ss =>
      import ss.implicits._
      val base = 0x5A5A1234ABCD9876L
      // 101 = 1 bit from doc 1; 102 = identical to 101 (within pair);
      // 103 = far from everything
      (Seq((1L, base), (2L, base ^ 0x3L)).toDF("id", "sh"),
        Seq((101L, base ^ 1L), (102L, base ^ 1L),
          (103L, 0x1111222233334444L)).toDF("id", "sh"))
    },
    rows = DocDedup.hammingRows(_, "id", "sh")(Seq(8)),
    build = DocDedup.buildHammingIndex(_, "id", "sh", _, qBuckets = 8),
    append = DocDedup.appendToHammingIndex(_, "id", "sh", _),
    probe = (b, _, p) => DocDedup.probeHammingIndex(b, "id", "sh", p, 2),
    within = DocDedup.hammingPairs(_, "id", "sh", 2),
    fold = (b, _, idx, m) => DocDedup.foldHammingBatch(b, "id", "sh", idx,
      m, maxDist = 2, qBuckets = 8))

  val winnow = IndexFamilyCase("winnow", "_graft_winnow_meta", "8,4,8",
    Seq("id_a", "id_b", "n_matches"), textBatches,
    rows = Winnow.winnowRows(_, "id", "text")(Seq(8, 4, 8)),
    build = Winnow.buildWinnowIndex(_, "id", "text", _, k = 8, w = 4,
      fpBuckets = 8),
    append = Winnow.appendToWinnowIndex(_, "id", "text", _),
    probe = (b, _, p) => Winnow.probeWinnowIndex(b, "id", "text", p),
    within = Winnow.verifiedPairs(_, "id", "text", k = 8, w = 4),
    fold = (b, _, idx, m) => Winnow.foldWinnowBatch(b, "id", "text", idx, m,
      k = 8, w = 4, fpBuckets = 8))

  val cdc = IndexFamilyCase("cdc", "_graft_cdc_meta", "256,9,4096,8",
    Seq("id_a", "id_b", "n_shared"),
    { ss =>
      import ss.implicits._
      def blob(seed: Int): Array[Byte] = {
        val shared = Array.tabulate(6000)(j => ((j * 31 + 7) % 251).toByte)
        val own = Array.tabulate(3000)(j => ((j * 17 + seed) % 251).toByte)
        shared ++ own
      }
      (Seq((1L, blob(1)), (2L, blob(2))).toDF("id", "blob"),
        Seq((101L, blob(11)), (102L, blob(12))).toDF("id", "blob"))
    },
    rows = Cdc.cdcRows(_, "id", "blob")(Seq(256, 9, 4096, 8)),
    build = Cdc.buildCdcIndex(_, "id", "blob", _, 256, 9, 4096, 8),
    append = Cdc.appendToCdcIndex(_, "id", "blob", _),
    probe = (b, _, p) => Cdc.probeCdcIndex(b, "id", "blob", p),
    within = Cdc.sharedChunkPairs(_, "id", "blob", 256, 9, 4096),
    fold = (b, _, idx, m) => Cdc.foldCdcBatch(b, "id", "blob", idx, m,
      minSize = 256, avgBits = 9, maxSize = 4096, hashBuckets = 8))

  val all: Seq[IndexFamilyCase] = Seq(minHash, hamming, winnow, cdc)
}
