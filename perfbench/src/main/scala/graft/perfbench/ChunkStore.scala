package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.functions._
import graft.api.{DedupOptions, Deduplicator}
import graft.functions.{BloomMembership, Hashing}
import graft.operators.{Dedup, Recovery}
import graft.sources.{ChunkSource, OrderedBinarySink}

/** Seeded 4 KiB-aligned files. A block is named by a long id whose
  * bytes are a pure function of (seed, id); id 0 is the zero-filled
  * block, the one hot hash of every file.
  */
final class ChunkGen(seed: Long, blocksPerFile: Int) {
  import ChunkStore.Block
  private val rng = new SplittableRandom(seed)
  private var lastId = 0L
  private val earlier = mutable.ArrayBuffer.empty[Long]

  def bytes(id: Long): Array[Byte] = {
    val b = new Array[Byte](Block)
    if (id != 0) new SplittableRandom(seed * 0x9E3779B97F4A7C15L + id).nextBytes(b)
    b
  }

  /** Block ids of the next file: a run of zero blocks; otherwise about
    * 35% blocks of earlier files, 15% repeats within the file and the
    * rest novel.
    */
  def nextFile(): Array[Long] = {
    val zeroStart = rng.nextInt(blocksPerFile - 4)
    val zeroLen = 2 + rng.nextInt(3)
    val own = mutable.ArrayBuffer.empty[Long]
    val ids = Array.tabulate(blocksPerFile) { p =>
      val r = rng.nextDouble()
      if (p >= zeroStart && p < zeroStart + zeroLen) 0L
      else if (r < 0.35 && earlier.nonEmpty) earlier(rng.nextInt(earlier.size))
      else if (r < 0.50 && own.nonEmpty) own(rng.nextInt(own.size))
      else { lastId += 1; own += lastId; lastId }
    }
    earlier ++= own
    ids
  }
}

/** The catalog the program should hold, computed here with the JDK's
  * SHA-1, never by calling graft.
  */
final class ChunkTruth(gen: ChunkGen) {
  final case class Link(fileId: Long, line: Long, var refs: Long)
  val links = mutable.HashMap.empty[String, Link]
  private val hashOf = mutable.HashMap.empty[Long, String]
  private val firstsAtLine = mutable.HashMap.empty[Long, mutable.ArrayBuffer[String]]

  def hash(id: Long): String = hashOf.getOrElseUpdate(id,
    java.security.MessageDigest.getInstance("SHA-1").digest(gen.bytes(id))
      .map("%02x".format(_)).mkString)

  /** Commit one file; returns its expected pointer count. */
  def ingest(fileId: Long, ids: Array[Long]): Long = {
    var pointers = 0L
    ids.zipWithIndex.foreach { case (id, line) =>
      val h = hash(id)
      links.get(h) match {
        case Some(l) => l.refs += 1; pointers += 1
        case None =>
          links(h) = Link(fileId, line, 1)
          firstsAtLine.getOrElseUpdate(line, mutable.ArrayBuffer.empty) += h
      }
    }
    pointers
  }

  /** (hash, file_id, refs_num) of every link whose first occurrence is
    * at `line`.
    */
  def atLine(line: Long): Set[(String, Long, Long)] =
    firstsAtLine.getOrElse(line, mutable.ArrayBuffer.empty[String])
      .map(h => (h, links(h).fileId, links(h).refs)).toSet
}

/** `chunk-store`: micro-batches through `Deduplicator.deduplicateBatch`
  * (the call StreamingDedup makes per micro-batch) into one store, each
  * followed by one `recoverFile` of an earlier file and catalog point
  * lookups. Writes and reads share one Catalog that grows several-fold.
  */
final class ChunkStore(run: Run, seed: Long, small: Boolean) extends Workload {
  import ChunkStore._
  private val spark = run.spark
  private val filesPerBatch = 2
  private val blocksPerFile = if (small) 8 else 32
  private val bulkFiles = 3
  val iterations: Int = if (small) 2 else 3
  private val opts = DedupOptions(chunkBytes = Block)

  private val gen = new ChunkGen(seed, blocksPerFile)
  private val truth = new ChunkTruth(gen)
  private val pick = new SplittableRandom(seed ^ 0x5DEECE66DL)
  private val files = mutable.ArrayBuffer.empty[(Path, Array[Long], String)]
  private var ingested = 0
  private var store: Path = _
  private var restoreDir: Path = _
  private var dedup: Deduplicator = _
  private var written = 0L
  private var restored = 0L
  private val maybeRatios = mutable.ArrayBuffer.empty[Double]
  // expected pointer count of every file ingested, by file index
  private val pointers = mutable.LinkedHashMap.empty[Int, Long]

  private def name(i: Int) = f"f$i%05d"
  /** A file's encoded run, at the path Deduplicator documents. */
  private def encodedPath(n: String) = store.resolve(s"encoded/$n.parquet").toString
  private def encoded(n: String) = spark.read.parquet(encodedPath(n))
  private def fileBytes(ids: Array[Long]): Array[Byte] = {
    val out = new Array[Byte](ids.length * Block)
    ids.zipWithIndex.foreach { case (id, p) =>
      System.arraycopy(gen.bytes(id), 0, out, p * Block, Block)
    }
    out
  }

  def setup(dir: Path): Unit = {
    val in = Files.createDirectories(dir.resolve("in"))
    (0 until bulkFiles + iterations * filesPerBatch).foreach { i =>
      val ids = gen.nextFile()
      val bytes = fileBytes(ids)
      val p = in.resolve(name(i) + ".bin")
      Files.write(p, bytes)
      files += ((p, ids, Fs.sha256(bytes)))
    }
    store = dir.resolve("store")
    restoreDir = Files.createDirectories(dir.resolve("restore"))
    dedup = new Deduplicator(spark, store.toString, bucketChars = 1)
    ingest("build", bulkFiles)
  }

  def buildBytes: Long = bulkFiles.toLong * blocksPerFile * Block

  /** One deduplicateBatch of the next `n` files. Its file ids and, at
    * the end of the run, each file's chunk and pointer counts are
    * checked against the expected ones.
    */
  private def ingest(kind: String, n: Int): Unit = {
    val batch = (ingested until ingested + n).toVector
    val paths = batch.map(i => files(i)._1.toString)
    val instrBefore = InstrSamples.mark()
    // computeCounts = false, as StreamingDedup calls it per micro-batch;
    // the pointer counts are read back from the encoded runs at the end
    val (res, sec) = run.call(kind, "api.dedup_batch")(
      dedup.deduplicateBatch(paths, opts, outputNames = batch.map(name),
        computeCounts = false))
    val ids = run.tamper("dedup_file_ids", res.map(_.fileId))(_.map(_ + 1))
    run.gate("dedup_file_ids", ids == batch.map(_ + 1L),
      s"batch ${batch.head}: file ids $ids, expected ${batch.map(_ + 1L)}")
    batch.foreach(i => pointers(i) = truth.ingest(i + 1L, files(i)._2))
    ingested += n
    if (kind == "write") {
      written += n.toLong * blocksPerFile * Block
      val stages = InstrSamples.since(instrBefore, s"dedup.w$Block.")
      stages.foreach { case (k, v) => run.sample(s"operators.${k}_s", v) }
      run.sample("api.dedup_batch_self_s", sec - stages.map(_._2).sum)
    }
  }

  def step(i: Int): Unit = {
    if (run.traced) decomposeWrite(ingested until ingested + filesPerBatch)
    ingest("write", filesPerBatch)

    // a file of the previous batch (of the bulk load, the first time):
    // its pointers reach back over the whole store as the store grows
    val j = ingested - 2 * filesPerBatch
    val out = restoreDir.resolve(name(j) + ".out")
    run.call("read", "api.recover_file")(dedup.recoverFile(name(j), out.toString))
    val got = run.tamper("restore_bytes", Files.readAllBytes(out)) { b =>
      val c = b.clone(); c(0) = (c(0) ^ 1).toByte; c
    }
    run.gate("restore_bytes", Fs.sha256(got) == files(j)._3,
      s"restored ${name(j)} (${got.length} bytes) differs from its input")
    restored += got.length
    Files.delete(out)
    if (run.traced) decomposeRead(j)

    lookups()
  }

  private def lookups(): Unit = {
    val lastOwn = files(ingested - 1)._2.filter(id => id != 0 &&
      truth.links(truth.hash(id)).fileId == ingested)
    val earlierFile = files(pick.nextInt(ingested))._2
    val hashes = Seq(truth.hash(0L),
      truth.hash(earlierFile(pick.nextInt(earlierFile.length)))) ++
      lastOwn.headOption.map(truth.hash) :+
      f"${pick.nextLong()}%016x${pick.nextLong()}%016x${pick.nextInt()}%08x"
    hashes.foreach { h =>
      val (rows, _) = run.call("lookup", "operators.get_hash_link")(
        dedup.catalog.getHashLink(h).collect())
      val got = run.tamper("lookup_hash", rows.map(r => (r.getAs[Long]("file_id"),
        r.getAs[Long]("line"), r.getAs[Long]("refs_num"))).toSeq)(
        _.map { case (f, l, n) => (f, l + 1, n) })
      val want = truth.links.get(h).map(l => (l.fileId, l.line, l.refs)).toSeq
      run.gate("lookup_hash", got == want, s"getHashLink($h) = $got, expected $want")
      run.sample("operators.lookup_hash_ms", run.samples("lookup").last * 1e3)
    }
    val line = pick.nextInt(blocksPerFile).toLong
    val (rows, _) = run.call("lookup", "operators.get_hash_link_by_line")(
      dedup.catalog.getHashLinkByLine(line).collect())
    val got = run.tamper("lookup_line", rows.map(r => (r.getAs[String]("hash"),
      r.getAs[Long]("file_id"), r.getAs[Long]("refs_num"))).toSet)(
      _ + (("0" * 40, 0L, 0L)))
    val want = truth.atLine(line)
    run.gate("lookup_line", got == want && rows.length == want.size,
      s"getHashLinkByLine($line): ${rows.length} rows, ${got.diff(want).size} unexpected, " +
        s"${want.diff(got).size} missing")
    run.sample("operators.lookup_line_ms", run.samples("lookup").last * 1e3)
  }

  /** Traced runs: the write path's layers, each run to a noop sink
    * against the catalog the batch is about to probe.
    */
  private def decomposeWrite(batch: Range): Unit = {
    val paths = batch.map(i => files(i)._1.toString)
    val algo = Hashing.resolve(opts.algorithm)
    val chunks = ChunkSource.chunksOfFiles(spark, paths, Block)
    val hashed = chunks.withColumn("hash", algo.digest(col("chunk")))
    val scan = run.layer("sources.scan")(noop(chunks))
    val hash = run.layer("functions.scan_hash")(noop(hashed))
    val probe = run.layer("operators.scan_hash_probe")(
      noop(Dedup.probe(chunks.select("pos", "chunk"), algo,
        dedup.catalog.links())))
    run.sample("sources.scan_s", scan)
    run.sample("functions.hash_s", hash - scan)
    run.sample("operators.probe_s", probe - hash)
    dedup.catalog.seenBloom().foreach { bloom =>
      run.layer("operators.bloom_maybe") {
        maybeRatios += hashed.agg(avg(when(
          BloomMembership.mightContain(bloom, col("hash")), 1.0)
          .otherwise(0.0))).head().getDouble(0)
      }
    }
  }

  /** Traced runs: recoverFile's layers for the file just restored. */
  private def decomposeRead(j: Int): Unit = {
    var fid = 0L
    var names = Map.empty[Long, String]
    val collects = run.layer("api.recover_collects") {
      fid = dedup.catalog.getFile(name(j)).collect().head.getAs[Long]("file_id")
      names = dedup.catalog.files().select("file_id", "filename").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    def resolved = Recovery.resolve(encoded(name(j)), fid, id => encoded(names(id)))
    val resolve = run.layer("operators.resolve")(noop(resolved))
    val tmp = restoreDir.resolve("decompose.out")
    val sink = run.layer("sources.resolve_sink")(
      OrderedBinarySink.write(resolved, "pos", "chunk", tmp.toString))
    Files.deleteIfExists(tmp)
    run.sample("api.recover_self_s", collects)
    run.sample("operators.resolve_s", resolve)
    run.sample("sources.sink_s", sink - resolve)
  }

  def storePath: Path = store

  def storedRatio: Double =
    Fs.usage(store)._2.toDouble / (ingested.toLong * blocksPerFile * Block)

  private var catalogValues = Seq.empty[(String, Double)]

  def finish(): Unit = {
    // one scan of every encoded run: (chunks, pointers) of each file
    val rows = spark.read.parquet(pointers.keys.toSeq.map(i => encodedPath(name(i))): _*)
      .select(input_file_name(), col("is_pointer")).collect()
    val got = run.tamper("dedup_pointers", pointers.keys.toSeq.map { i =>
      val own = rows.filter(_.getString(0).contains(s"/encoded/${name(i)}.parquet/"))
      i -> (own.length.toLong, own.count(_.getBoolean(1)).toLong)
    })(r => r.updated(0, (r.head._1, (r.head._2._1, r.head._2._2 + 1))))
    val expected = pointers.toSeq.map { case (i, p) => i -> (blocksPerFile.toLong, p) }
    val wrong = got.zip(expected).filter { case (g, e) => g != e }
    run.gate("dedup_pointers", wrong.isEmpty,
      s"${wrong.size} files with other (chunks, pointers) than expected, e.g. " +
        wrong.headOption.map { case (g, e) => s"file ${g._1}: ${g._2}, expected ${e._2}" })

    val s = dedup.catalog.stats().collect().head
    val nLinks = run.tamper("catalog_stats", s.getAs[Long]("n_links"))(_ + 1)
    val nFiles = s.getAs[Long]("n_files")
    run.gate("catalog_stats", nLinks == truth.links.size && nFiles == ingested,
      s"catalog holds $nLinks links in $nFiles files, expected ${truth.links.size} in $ingested")
    val fill = dedup.catalog.seenBloom().map { b =>
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(b)
      bf.cardinality().toDouble / bf.bitSize()
    }.getOrElse(0.0)
    catalogValues = Seq(
      "operators.catalog_links" -> nLinks.toDouble,
      "operators.catalog_files" -> nFiles.toDouble,
      "operators.catalog_bytes" -> Fs.usage(store.resolve("catalog"))._2.toDouble,
      "operators.bloom_fill" -> fill,
      "operators.bloom_maybe_ratio" ->
        (if (maybeRatios.isEmpty) 0.0 else Stats.median(maybeRatios.toSeq)))
  }

  def layerValues: Seq[(String, Double)] = catalogValues

  def namedMetrics: Seq[(String, Double, String)] = {
    val w = run.samples("write").toSeq
    val r = run.samples("read").toSeq
    val l = run.samples("lookup").toSeq
    Seq(
      ("ingest_mbps", written / w.sum / 1e6, "MB/s"),
      ("ingest_batch_p50_s", Stats.median(w), "s"),
      ("restore_mbps", restored / r.sum / 1e6, "MB/s"),
      ("lookup_p50_ms", Stats.median(l) * 1e3, "ms")) ++
      Stats.tail(w).map { case (p, v) => (s"ingest_batch_tail_s[p$p,n=${w.size}]", v, "s") } ++
      Stats.tail(l).map { case (p, v) => (s"lookup_tail_ms[p$p,n=${l.size}]", v * 1e3, "ms") }
  }
}

object ChunkStore {
  val Block = 4096

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** The program's own `graft.Instr` stage samples, read between calls. */
object InstrSamples {
  def mark(): Map[String, Long] =
    graft.Instr.snapshot().map { case (k, _) => k -> graft.Instr.totalCount(k) }.toMap

  /** Samples recorded since `mark` under keys starting with `prefix`,
    * keyed by the rest of the key.
    */
  def since(mark: Map[String, Long], prefix: String): Seq[(String, Double)] =
    graft.Instr.snapshot().filter(_._1.startsWith(prefix)).flatMap { case (k, v) =>
      val n = (graft.Instr.totalCount(k) - mark.getOrElse(k, 0L)).toInt
      v.takeRight(n).map(k.stripPrefix(prefix) -> _)
    }
}
