package graft.ext

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The persisted bucketed-index layer under the MinHash, Hamming,
  * Winnow and CDC families. Each of those indexes is the same thing: a
  * row set written partitioned by a few small integer bucket columns
  * (so a probe prunes to its own buckets at file-listing time), plus a
  * `_graft_<family>_meta` sidecar of comma-separated ints that pins the
  * parameters every later append and probe must reuse. This object
  * owns everything that shape implies:
  *
  *   - the sidecar codec ([[writeSidecar]] / [[readSidecar]]): a
  *     temp-then-rename publish, and a typed error for a malformed file;
  *   - the partitioned write ([[build]] / [[append]]): rows clustered
  *     by the partition columns with the reducer count pinned, appends
  *     under the [[WriterLock]];
  *   - the probe skeleton ([[probe]]): one `groupBy(coords).count`
  *     collect gives both the touched partitions and the probe row
  *     count, then the coordinate and empty-index guards, the
  *     partition-column prune (read with the projection's schema, so no
  *     schema-inference job runs) and the broadcast row guard;
  *   - the streaming fold skeleton ([[fold]]): one clustered, persisted
  *     projection of the batch feeds the pruned probe, the matches
  *     write (cross ∪ within) and the index append.
  *
  * A family supplies a [[Family]] value (name, sidecar arity, partition
  * and key columns, parameter checks, whether its probe result is
  * checkpointed), its projection from the sidecar parameters to index
  * rows, and its cross / within / verify plans. Index rows always carry
  * the document id as `id`; the probe side renames it to `id_a`.
  */
private[graft] object BucketedIndex {

  /** Probe-side row count above which the candidate join stops
    * broadcasting the probe rows and shuffles instead — same pruned
    * scan, same result, bounded driver memory.
    */
  val DefaultBroadcastLimit: Long = 4L << 20

  /** Partition coordinates a probe may touch before the small-probe
    * contract is refused (the `isin` prune is built driver-side).
    */
  private val MaxCoords = 65536

  /** The fixed shape of one index family.
    *
    * @param partCols    partition columns (small non-negative ints)
    * @param keys        equi-join keys between index and probe rows
    * @param coordsLabel Instr stage suffix of the fold's coords collect
    * @param checkpointed whether [[probe]] persists the probe rows and
    *        returns a locally checkpointed result (false: the live plan
    *        is the result, and nothing is persisted)
    * @param carry       extra probe-side columns beyond `id_a` and keys
    * @param validate    parameter checks, run on build and fold params
    */
  final class Family(name: String, val arity: Int,
                     val partCols: Seq[String], val keys: Seq[String],
                     val coordsLabel: String, val checkpointed: Boolean,
                     carry: Seq[Column] = Nil)(
                     val validate: Seq[Int] => Unit) {
    def sidecar(path: String): Path = new Path(path, s"_graft_${name}_meta")
    def probeSide(rows: DataFrame): DataFrame =
      rows.select((col("id").as("id_a") +: carry) ++ keys.map(col): _*)
  }

  /** A probe batch's pruned view of the index: the index rows in the
    * probe's partitions, and the probe side (broadcast when small).
    */
  final class Probe(val index: DataFrame, side: DataFrame,
                    keys: Seq[String]) {
    /** `idx` (default: the pruned read) joined to the probe rows that
      * share its keys, self-pairs dropped.
      */
    def joined(idx: DataFrame = index): DataFrame =
      idx.join(side, keys).where(col("id_a") =!= col("id"))
  }

  /** Local checkpoints a plan registers; released once its output is
    * written or checkpointed.
    */
  final class Scope {
    private val held = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
    /** `df` computed exactly once, now: every later reader scans the
      * checkpoint, so no two exchanges first-compute the same blocks.
      */
    def checkpoint(df: DataFrame): DataFrame = {
      val cp = df.localCheckpoint()
      held ++= cp.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
      cp
    }
    private[BucketedIndex] def release(): Unit =
      held.reverseIterator.foreach(_.unpersist())
  }

  private def fsOf(ss: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(ss.sparkContext.hadoopConfiguration)

  private def timed[T](stage: Option[String])(body: => T): T =
    stage.fold(body)(graft.Instr.timed(_)(body))

  // ------------------------------------------------------------ sidecar

  /** Publish the sidecar through a hidden temp file and a rename, so a
    * crash mid-write can never leave an empty or partial sidecar under
    * the real name.
    */
  private def writeSidecar(ss: SparkSession, path: String, f: Family,
                   params: Seq[Int]): Unit = {
    val fs = fsOf(ss, path)
    val dst = f.sidecar(path)
    val tmp = new Path(path, s".${dst.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(params.mkString(",").getBytes("UTF-8")) finally out.close()
    // a rename onto an existing file fails on HDFS: replace explicitly
    if (!fs.rename(tmp, dst) && !(fs.delete(dst, false) && fs.rename(tmp, dst)))
      throw new java.io.IOException(s"could not publish index sidecar $dst")
  }

  /** The sidecar's parameters, after the open-time heal of an
    * interrupted compaction. A sidecar that is not exactly `arity`
    * comma-separated ints is an [[IllegalStateException]] naming it.
    */
  private def readSidecar(ss: SparkSession, path: String, f: Family): Seq[Int] = {
    IndexMaintenance.ensureReadable(ss, path)
    val p = f.sidecar(path)
    val in = fsOf(ss, path).open(p)
    val text = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
      finally in.close()
    val parsed = text.split(",", -1).toSeq.map(_.toIntOption)
    if (parsed.length != f.arity || parsed.contains(None))
      throw new IllegalStateException(s"malformed index sidecar $p: " +
        s"expected ${f.arity} comma-separated ints, got '$text'")
    parsed.flatten
  }

  // ------------------------------------------------------ build / append

  /** Clustered by the partition columns before the partitioned write:
    * files ≈ max(partitions touched, shuffle partitions), not
    * tasks × dirs. The reducer count is pinned, not left to AQE:
    * coalescing a small write to ONE reducer serializes every
    * partition directory's write through one task (the file count is
    * the same either way, so the pin only buys back parallelism).
    */
  private def clustered(rows: DataFrame, f: Family): DataFrame =
    rows.repartition(rows.sparkSession.sessionState.conf.numShufflePartitions,
      f.partCols.map(col): _*)

  /** Write a fresh index at `path` from `project(params)`, then its
    * sidecar.
    */
  def build(ss: SparkSession, path: String, f: Family, params: Seq[Int])(
      project: Seq[Int] => DataFrame): Unit = {
    f.validate(params)
    clustered(project(params), f)
      .write.mode("overwrite").partitionBy(f.partCols: _*).parquet(path)
    writeSidecar(ss, path, f, params)
  }

  /** Append `project(sidecar params)` into the same layout, under the
    * writer lock. Cost ∝ batch: existing files are never rewritten.
    */
  def append(ss: SparkSession, path: String, f: Family, op: String)(
      project: Seq[Int] => DataFrame): Unit =
    WriterLock.withLock(ss, path, op) {
      clustered(project(readSidecar(ss, path, f)), f)
        .write.mode("append").partitionBy(f.partCols: _*).parquet(path)
    }

  // -------------------------------------------------------------- probe

  /** One action over `rows` (index-shaped): its distinct partition
    * coordinates and its row count. None when the batch touches no
    * partition or the index holds no data files; otherwise the
    * partition-pruned read (with `rows.schema`, which every index file
    * was written from) and the probe side.
    */
  private def prune(ss: SparkSession, path: String, f: Family, op: String,
                    rows: DataFrame, indexExists: Boolean,
                    broadcastLimit: Long, stage: Option[String]): Option[Probe] = {
    val counts = timed(stage)(rows.groupBy(f.partCols.map(col): _*)
      .agg(count(lit(1)).as("n")).collect())
    val coords = counts.toSeq.map(r => f.partCols.indices.map(r.getInt))
    // an index built from an input with no rows has the sidecar but no
    // part files; read.parquet would fail schema inference
    if (coords.isEmpty || !indexExists || !fsOf(ss, path)
      .listStatus(new Path(path))
      .exists(_.getPath.getName.startsWith(f.partCols.head + "="))) return None
    require(coords.length <= MaxCoords,
      s"$op: ${coords.length} distinct (${f.partCols.mkString(", ")}) " +
        s"coordinates exceed the small-probe-side contract (<= $MaxCoords); " +
        "batch the probe set")
    // partition columns only → evaluated against partition values at
    // file-listing time; several columns fold into one combined key so
    // the filter is a single In-expression
    val filter =
      if (f.partCols.length == 1) col(f.partCols.head).isin(coords.map(_.head): _*)
      else f.partCols.map(col(_).cast("long")).reduceLeft(_ * 4096L + _)
        .isin(coords.map(_.foldLeft(0L)(_ * 4096L + _)): _*)
    val side = f.probeSide(rows)
    val nRows = counts.map(_.getLong(f.partCols.length)).sum
    // the files hold the projection's own columns: reading with its
    // schema skips the parquet schema-inference job
    Some(new Probe(ss.read.schema(rows.schema).parquet(path).where(filter),
      if (nRows <= broadcastLimit) broadcast(side) else side, f.keys))
  }

  /** Probe the index at `path` with `project(sidecar params)`: None
    * when nothing can match, else `plan` over the pruned probe —
    * locally checkpointed (timed under `<stage>.verify`) while the probe
    * rows and the plan's caches are still alive if the family is
    * `checkpointed`.
    */
  def probe(ss: SparkSession, path: String, f: Family, op: String,
            broadcastLimit: Long, stage: Option[String])(
      project: Seq[Int] => DataFrame)(
      plan: (Probe, Scope) => DataFrame): Option[DataFrame] = {
    require(broadcastLimit >= 1,
      s"broadcastLimit must be >= 1, got $broadcastLimit")
    val rows = project(readSidecar(ss, path, f))
    if (f.checkpointed) rows.persist()
    val scope = new Scope
    try prune(ss, path, f, op, rows, indexExists = true, broadcastLimit,
        stage.map(_ + ".coords")).map { p =>
      val out = plan(p, scope)
      if (f.checkpointed) timed(stage.map(_ + ".verify"))(out.localCheckpoint())
      else out
    } finally {
      scope.release()
      if (f.checkpointed) rows.unpersist()
    }
  }

  // --------------------------------------------------------------- fold

  /** The streaming micro-batch kernel: cross-index matches, within-batch
    * matches, the matches write and the index append from ONE
    * projection of the batch, persisted pre-clustered by the partition
    * columns. Parameters come from the sidecar, or from `params` when
    * no index exists yet (the append then writes the initial layout and
    * the sidecar). Actions: the coords collect (which materializes the
    * cache), whatever `verify` spends (a [[Scope.checkpoint]] of the
    * pairs, for MinHash), the matches write of `verify(cross ∪ within)`,
    * and the append straight from the cache —
    * shuffle-free, under the writer lock (reentrant on a stream's
    * foreachBatch thread, which may also hold it around compaction).
    */
  def fold(ss: SparkSession, indexPath: String, matchesPath: String,
           f: Family, op: String, stage: String, params: Seq[Int],
           broadcastLimit: Long)(project: Seq[Int] => DataFrame)(
      cross: Probe => DataFrame, within: DataFrame => DataFrame,
      verify: (DataFrame, Scope) => DataFrame = (d, _) => d): Unit = {
    require(broadcastLimit >= 1,
      s"broadcastLimit must be >= 1, got $broadcastLimit")
    val indexExists = fsOf(ss, indexPath).exists(f.sidecar(indexPath))
    val eParams = if (indexExists) readSidecar(ss, indexPath, f) else params
    f.validate(eParams)
    val rows = clustered(project(eParams), f).persist()
    try {
      val probe = prune(ss, indexPath, f, op, rows, indexExists,
        broadcastLimit, Some(s"$stage.${f.coordsLabel}"))
      val w = within(rows)
      val scope = new Scope
      try {
        val matches = verify(probe.fold(w)(cross(_).unionByName(w)), scope)
        graft.Instr.timed(s"$stage.matches")(
          matches.write.mode("overwrite").parquet(matchesPath))
      } finally scope.release()
      WriterLock.withLock(ss, indexPath, s"$op.append") {
        graft.Instr.timed(s"$stage.append")(
          rows.write.mode(if (indexExists) "append" else "overwrite")
            .partitionBy(f.partCols: _*).parquet(indexPath))
        if (!indexExists) writeSidecar(ss, indexPath, f, eParams)
      }
    } finally rows.unpersist()
  }
}
