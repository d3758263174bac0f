package graft.ext

import graft.SparkFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** Every family's fused fold must reproduce the unfused semantics
  * exactly: its matches equal the index probe ∪ the family's
  * within-batch pair form on the same data, and its index state equals
  * build + append. One row per [[IndexFamilyCase]].
  */
class FoldBatchSpec extends SparkFunSuite {

  IndexFamilyCase.all.foreach { c =>
    test(s"${c.name}: fold matches = unfused cross ∪ within") {
      val (b0, b1) = c.batches(spark)
      val dir = tempDir(s"fold-${c.name}")
      // batch 0 builds the index (within pairs only); batch 1 probes it
      c.fold(b0, b0.where(lit(false)), s"$dir/index", s"$dir/m0")
      c.fold(b1, b0, s"$dir/index", s"$dir/m1")
      def rows(df: DataFrame) = df.select(c.matchCols.map(col): _*)
        .collect().map(_.toSeq).toSet
      assert(rows(spark.read.parquet(s"$dir/m0")) == rows(c.within(b0)))
      // batch 1 against the unfused reference: an index built from b0
      val ref = s"$dir/ref"
      c.build(b0, ref)
      val wantCross = rows(c.probe(b1, b0, ref))
      val wantWithin = rows(c.within(b1))
      assert(wantCross.nonEmpty && wantWithin.nonEmpty) // twins planted
      assert(rows(spark.read.parquet(s"$dir/m1")) == wantCross ++ wantWithin)
      // and the fold's index state equals the unfused build + append
      c.append(b1, ref)
      def indexRows(p: String) = spark.read.parquet(p)
        .collect().map(_.toString).sorted.toSeq
      assert(indexRows(s"$dir/index") == indexRows(ref))
    }
  }
}
