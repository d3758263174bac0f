package graft.perfbench

import java.nio.file.Path
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.DocDedup

/** `doc-neardup`: a seeded corpus indexed by `DocDedup.buildMinHashIndex`,
  * then fixed-size `appendToMinHashIndex` and `probeMinHashIndex`
  * batches while the index grows. Each probe batch is half planted
  * near-duplicates of indexed documents (a few words substituted, so
  * their word-bigram Jaccard similarity is known here) and half new
  * documents. Bypasses Catalog and ChunkSource.
  */
final class DocNearDup(run: Run, seed: Long, small: Boolean) extends Workload {
  import DocNearDup._
  private val spark = run.spark
  private val corpusDocs = if (small) 200 else 3000
  private val appendDocs = if (small) 50 else 200
  private val probeDocs = if (small) 20 else 50
  val iterations: Int = if (small) 2 else 3

  private val rng = new SplittableRandom(seed)
  private val vocab: Array[String] = {
    val words = mutable.LinkedHashSet.empty[String]
    while (words.size < 20000)
      words += Array.fill(3 + rng.nextInt(6))(('a' + rng.nextInt(26)).toChar).mkString
    words.toArray
  }
  private val texts = mutable.HashMap.empty[Long, String]
  // probe id → the indexed id it was planted from
  private val planted = mutable.HashMap.empty[Long, Long]
  private var index: Path = _
  private var corpus0: DataFrame = _
  private var appends: DataFrame = _
  private var probes: DataFrame = _
  private var batches = 0
  private var written = 0L
  private var corpusBytes = 0L
  private val found = mutable.Set.empty[(Long, Long)]

  private def newDoc(): Array[String] =
    Array.fill(60 + rng.nextInt(60))(vocab(rng.nextInt(vocab.length)))
  private def add(id: Long, words: Array[String]): (Long, String) = {
    val t = words.mkString(" ")
    texts(id) = t
    id -> t
  }
  private def bytesOf(ids: Iterable[Long]): Long =
    ids.iterator.map(id => texts(id).getBytes("UTF-8").length.toLong).sum

  def setup(dir: Path): Unit = {
    import spark.implicits._
    val base = (0 until corpusDocs).map(i => add(i.toLong, newDoc()))
    val appended = (0 until iterations).flatMap { b =>
      (0 until appendDocs).map { j =>
        val (id, t) = add(1000000L + b * appendDocs + j, newDoc())
        (b, id, t)
      }
    }
    // probes of batch b are planted on documents indexed before it
    // (the base corpus and appends 0..b)
    val probeRows = (0 until iterations).flatMap { b =>
      val indexed = corpusDocs + (b + 1) * appendDocs
      (0 until probeDocs).map { j =>
        val id = 2000000L + b * probeDocs + j
        if (j % 2 == 0) {
          val k = rng.nextInt(indexed)
          val src = if (k < corpusDocs) k.toLong
            else 1000000L + (k - corpusDocs)
          val words = texts(src).split(" ")
          val subs = 1 + rng.nextInt(math.max(1, words.length / 16))
          (0 until subs).foreach(_ =>
            words(rng.nextInt(words.length)) = vocab(rng.nextInt(vocab.length)))
          planted(id) = src
          val (_, t) = add(id, words)
          (b, id, t)
        } else { val (_, t) = add(id, newDoc()); (b, id, t) }
      }
    }
    corpusBytes = bytesOf(base.map(_._1))
    val in = dir.resolve("in")
    base.toDF("id", "text").write.parquet(in.resolve("corpus").toString)
    appended.toDF("batch", "id", "text").repartition(col("batch"))
      .write.partitionBy("batch").parquet(in.resolve("appends").toString)
    probeRows.toDF("batch", "id", "text").repartition(col("batch"))
      .write.partitionBy("batch").parquet(in.resolve("probes").toString)
    corpus0 = spark.read.parquet(in.resolve("corpus").toString)
    appends = spark.read.parquet(in.resolve("appends").toString)
    probes = spark.read.parquet(in.resolve("probes").toString)
    index = dir.resolve("index")
    run.call("build", "ext.mh_build")(
      DocDedup.buildMinHashIndex(corpus0, "id", "text", index.toString))
  }

  def buildBytes: Long = corpusBytes

  def storePath: Path = index

  def step(i: Int): Unit = {
    val b = batches
    val batch = appends.where(col("batch") === b).select("id", "text")
    run.call("write", "ext.mh_append")(
      DocDedup.appendToMinHashIndex(batch, "id", "text", index.toString))
    batches += 1
    written += bytesOf((0 until appendDocs).map(j => 1000000L + b * appendDocs + j))

    val corpus = corpus0.unionByName(
      appends.where(col("batch") < batches).select("id", "text"))
    val probe = probes.where(col("batch") === b).select("id", "text")
    val (pairs, _) = run.call("read", "ext.mh_probe")(
      DocDedup.probeMinHashIndex(probe, corpus, "id", "text", index.toString,
        Num, Den).select("id_a", "id_b").collect())
    // the odd probes are new documents, unrelated to document 0
    val got = run.tamper("minhash_jaccard",
      pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq)(
      _ :+ (2000000L + b * probeDocs + 1, 0L))
    val low = got.filter { case (a, c) => !similar(a, c) }
    run.gate("minhash_jaccard", low.isEmpty,
      s"probe batch $b returned ${low.length} pairs below $Num/$Den, e.g. ${low.head}")
    found ++= got.filter { case (a, c) => planted.get(a).contains(c) }
  }

  private def bigrams(id: Long): Set[String] =
    texts(id).split(" ").sliding(2).collect { case Array(a, b) => s"$a $b" }.toSet

  /** Exact word-bigram Jaccard similarity >= Num/Den, computed here in
    * integers.
    */
  private def similar(a: Long, b: Long): Boolean = {
    val (x, y) = (bigrams(a), bigrams(b))
    Den * x.intersect(y).size >= Num * x.union(y).size
  }

  /** Planted pairs at or above the threshold in the probe batches run. */
  private def plantedAbove: Int = planted.count { case (p, src) =>
    (p - 2000000L) / probeDocs < batches && similar(p, src)
  }

  def storedRatio: Double =
    Fs.usage(index)._2.toDouble / (corpusBytes + written)

  def finish(): Unit = ()

  def layerValues: Seq[(String, Double)] = Seq(
    "ext.mh_pairs_found" -> found.size.toDouble,
    "ext.mh_pairs_planted" -> plantedAbove.toDouble)

  def namedMetrics: Seq[(String, Double, String)] = {
    val b = run.samples("build").toSeq
    Seq(
      ("mh_build_docs_per_s", corpusDocs / Stats.median(b), "docs/s"),
      ("mh_append_p50_s", Stats.median(run.samples("write").toSeq), "s"),
      ("mh_probe_p50_s", Stats.median(run.samples("read").toSeq), "s"),
      ("mh_planted_pairs_found", found.size.toDouble / plantedAbove, "ratio"))
  }
}

object DocNearDup {
  /** Probe threshold: Jaccard similarity >= Num/Den. */
  val Num = 7
  val Den = 10
}
