package graft.perfbench

import java.nio.file.Path

/** One benchmark workload. Every workload has the same three public-call
  * kinds, which is what lets one set of end-to-end metrics cover all of
  * them: `build` (the one-off load in set-up), `write` (the repeated
  * append) and `read` (the repeated query).
  */
trait Workload {
  /** Generate the inputs from the seed, write them to files under `dir`
    * and make the program's initial load (one `build` call).
    */
  def setup(dir: Path): Unit
  /** Input bytes the `build` call loads. */
  def buildBytes: Long
  /** Iterations of the closed loop: a fixed number, the same in every
    * run, so that every run times the same calls whatever the machine's
    * speed (each iteration works on a larger store than the one before).
    */
  def iterations: Int
  /** Closed-loop iteration `i`: a `write` call, then the read-phase
    * calls (kinds `read` and `lookup`).
    */
  def step(i: Int): Unit
  /** The directory the program keeps its store or index in. */
  def storePath: Path
  /** Bytes on disk under [[storePath]] ÷ input bytes loaded into it. */
  def storedRatio: Double
  /** End-of-run gates and per-layer values. */
  def finish(): Unit
  /** The workload's own names for its end-to-end metrics: (name, value, unit). */
  def namedMetrics: Seq[(String, Double, String)]
  /** Per-layer values of this workload's own layers, by metric name. */
  def layerValues: Seq[(String, Double)]
}

object Workload {
  /** The call kinds of an iteration's read phase. */
  val ReadKinds: Seq[String] = Seq("read", "lookup")

  val names: Seq[String] = Seq("chunk-store", "doc-neardup", "vector-ann")

  def apply(name: String, run: Run, seed: Long, small: Boolean): Workload =
    name match {
      case "chunk-store" => new ChunkStore(run, seed, small)
      case "doc-neardup" => new DocNearDup(run, seed, small)
      case "vector-ann" => new VectorAnn(run, seed, small)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other'; known: ${names.mkString(", ")}")
    }
}
