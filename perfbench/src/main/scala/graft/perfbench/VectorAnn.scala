package graft.perfbench

import java.nio.file.Path
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.Similarity

/** `vector-ann`: seeded dim-64 vectors around random cluster centres,
  * indexed by `Similarity.buildIvfIndex` with nlist ≈ √N, then
  * `appendToIvfIndex` and `probeIvfIndex` (k = 10) batches while the
  * index grows. Every query is planted next to an indexed vector;
  * recall@10 is measured against the exact top 10 computed here.
  * Bypasses every chunk and text layer.
  */
final class VectorAnn(run: Run, seed: Long, small: Boolean) extends Workload {
  import VectorAnn._
  private val spark = run.spark
  private val corpusVecs = if (small) 400 else 10000
  private val appendVecs = if (small) 100 else 1000
  private val queryVecs = if (small) 10 else 32
  val iterations: Int = if (small) 2 else 6
  private val nlist = math.round(math.sqrt(corpusVecs.toDouble)).toInt

  private val rng = new SplittableRandom(seed)
  private val centres = Array.fill(if (small) 8 else 200)(gaussian(1.0))
  // every vector by id: the corpus, the appends, then the queries
  private val vecs = mutable.HashMap.empty[Long, Array[Float]]
  private var index: Path = _
  private var corpus0: DataFrame = _
  private var appends: DataFrame = _
  private var queries: DataFrame = _
  private var batches = 0
  private var written = 0L
  private val results = mutable.ArrayBuffer.empty[(Int, Map[Long, Seq[Long]])]

  private def gaussian(sigma: Double): Array[Float] =
    Array.fill(Dim) {
      // Box-Muller, from the seeded stream
      val u = 1.0 - rng.nextDouble()
      (sigma * math.sqrt(-2 * math.log(u)) *
        math.cos(2 * math.Pi * rng.nextDouble())).toFloat
    }
  private def around(c: Array[Float], sigma: Double): Array[Float] =
    c.zip(gaussian(sigma)).map { case (a, b) => a + b }

  private def appendId(b: Int, j: Int) = 1000000L + b.toLong * appendVecs + j
  private def queryId(b: Int, j: Int) = 2000000L + b.toLong * queryVecs + j
  /** Ids in the index when probe batch `b` runs. */
  private def indexedIds(b: Int): Seq[Long] =
    (0 until corpusVecs).map(_.toLong) ++
      (0 to b).flatMap(a => (0 until appendVecs).map(appendId(a, _)))

  def setup(dir: Path): Unit = {
    import spark.implicits._
    def fresh() = around(centres(rng.nextInt(centres.length)), 0.6)
    val base = (0 until corpusVecs).map { i =>
      val v = fresh(); vecs(i.toLong) = v; (i.toLong, v)
    }
    val appended = (0 until iterations).flatMap { b =>
      (0 until appendVecs).map { j =>
        val v = fresh(); vecs(appendId(b, j)) = v; (b, appendId(b, j), v)
      }
    }
    val qs = (0 until iterations).flatMap { b =>
      val ids = indexedIds(b)
      (0 until queryVecs).map { j =>
        val v = around(vecs(ids(rng.nextInt(ids.size))), 0.05)
        vecs(queryId(b, j)) = v
        (b, queryId(b, j), v)
      }
    }
    val in = dir.resolve("in")
    base.toDF("id", "vec").write.parquet(in.resolve("corpus").toString)
    appended.toDF("batch", "id", "vec").repartition(col("batch"))
      .write.partitionBy("batch").parquet(in.resolve("appends").toString)
    qs.toDF("batch", "id", "vec").repartition(col("batch"))
      .write.partitionBy("batch").parquet(in.resolve("queries").toString)
    corpus0 = spark.read.parquet(in.resolve("corpus").toString)
    appends = spark.read.parquet(in.resolve("appends").toString)
    queries = spark.read.parquet(in.resolve("queries").toString)
    index = dir.resolve("index")
    run.call("build", "ext.ivf_build")(
      Similarity.buildIvfIndex(corpus0, "id", "vec", index.toString, nlist))
  }

  def buildBytes: Long = corpusVecs.toLong * Dim * 4

  def storePath: Path = index

  def step(i: Int): Unit = {
    val b = batches
    run.call("write", "ext.ivf_append")(Similarity.appendToIvfIndex(
      appends.where(col("batch") === b).select("id", "vec"), "id", "vec",
      index.toString))
    batches += 1
    written += appendVecs.toLong * Dim * 4

    val (rows, _) = run.call("read", "ext.ivf_probe")(Similarity.probeIvfIndex(
      queries.where(col("batch") === b).select("id", "vec"), "id", "vec",
      index.toString, K, NProbe).select("query_id", "neighbor_id").collect())
    val got = run.tamper("ivf_k_distinct",
      rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSeq })(
      g => g.updated(queryId(b, 0), Seq.fill(K)(g(queryId(b, 0)).head)))
    val bad = (0 until queryVecs).map(queryId(b, _)).filter { q =>
      val n = got.getOrElse(q, Nil)
      n.size != K || n.distinct.size != K
    }
    run.gate("ivf_k_distinct", bad.isEmpty,
      s"probe batch $b: ${bad.size} queries without $K distinct neighbours, e.g. ${bad.headOption.map(q => q -> got.get(q))}")
    results += b -> got
  }

  /** Exact cosine top-K of query `q` over the ids indexed at batch `b`. */
  private def exactTopK(q: Long, b: Int): Seq[Long] = {
    val qv = vecs(q)
    def cos(v: Array[Float]): Double = {
      var dot, nq, nv = 0.0
      var d = 0
      while (d < Dim) {
        dot += qv(d) * v(d); nq += qv(d) * qv(d); nv += v(d) * v(d); d += 1
      }
      dot / math.sqrt(nq * nv)
    }
    indexedIds(b).map(id => id -> cos(vecs(id)))
      .sortBy { case (id, s) => (-s, id) }.take(K).map(_._1)
  }

  private var recall = 0.0

  def finish(): Unit = {
    val perQuery = results.toSeq.flatMap { case (b, got) =>
      (0 until queryVecs).map { j =>
        val q = queryId(b, j)
        exactTopK(q, b).intersect(got.getOrElse(q, Nil)).size.toDouble / K
      }
    }
    recall = if (perQuery.isEmpty) 0.0 else perQuery.sum / perQuery.size
  }

  def storedRatio: Double =
    Fs.usage(index)._2.toDouble / (buildBytes + written)

  def layerValues: Seq[(String, Double)] = Nil

  def namedMetrics: Seq[(String, Double, String)] = Seq(
    ("ivf_build_vecs_per_s", corpusVecs / Stats.median(run.samples("build").toSeq), "vecs/s"),
    ("ivf_append_p50_s", Stats.median(run.samples("write").toSeq), "s"),
    ("ivf_probe_p50_s", Stats.median(run.samples("read").toSeq), "s"),
    ("ivf_recall_at_10", recall, "ratio"))
}

object VectorAnn {
  val Dim = 64
  val K = 10
  val NProbe = 8
}
