package graft.ext

import graft.SparkFunSuite
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test => ScTest}

/** The set verify behind `probeMinHashIndex` and `foldMinHashBatch`
  * against a brute-force exact Jaccard over distinct word bigrams,
  * compared on the full (id_a, id_b, common, na, nb) rows. Indexes use
  * 32 one-row bands, so a pair at Jaccard ≥ 1/2 misses every band with
  * probability ≤ 2^-32: the candidate stage finds every qualifying pair,
  * and the rows test the verify alone.
  */
class MinHashVerifySpec extends SparkFunSuite {
  import spark.implicits._

  private type Row5 = (Long, Long, Long, Long, Long)
  private val Bands = 32

  /** Distinct word bigrams: adjacent tokens of `split(" ", -1)`. */
  private def bigrams(text: String): Set[String] =
    if (text == null) Set.empty
    else text.split(" ", -1).sliding(2)
      .collect { case Array(a, b) => a + " " + b }.toSet

  private def exact(as: Seq[(Long, String)], bs: Seq[(Long, String)],
                    num: Int, den: Int)(keep: (Long, Long) => Boolean): Set[Row5] =
    (for {
      (ia, ta) <- as; (ib, tb) <- bs if keep(ia, ib)
      sa = bigrams(ta); sb = bigrams(tb) if sa.nonEmpty && sb.nonEmpty
      c = (sa & sb).size.toLong; na = sa.size.toLong; nb = sb.size.toLong
      if den * c >= num * (na + nb - c)
    } yield (ia, ib, c, na, nb)).toSet

  private def df(docs: Seq[(Long, String)]): DataFrame = docs.toDF("id", "text")

  private def rows(out: DataFrame): Set[Row5] =
    out.select("id_a", "id_b", "common", "na", "nb").as[Row5].collect().toSet

  private def build(corpus: Seq[(Long, String)], path: String): Unit =
    DocDedup.buildMinHashIndex(df(corpus), "id", "text", path,
      bands = Bands, rows = 1, sigBuckets = 1)

  private def viaProbe(corpus: Seq[(Long, String)], probes: Seq[(Long, String)],
                       num: Int, den: Int): Set[Row5] = {
    val path = tempDir("mh-verify-probe") + "/index"
    build(corpus, path)
    rows(DocDedup.probeMinHashIndex(df(probes), df(corpus), "id", "text",
      path, num, den))
  }

  private def viaFold(corpus: Seq[(Long, String)], batch: Seq[(Long, String)],
                      num: Int, den: Int): Set[Row5] = {
    val dir = tempDir("mh-verify-fold")
    build(corpus, s"$dir/index")
    DocDedup.foldMinHashBatch(df(batch), df(corpus), "id", "text",
      s"$dir/index", s"$dir/m", num, den, bands = Bands, rows = 1,
      sigBuckets = 1)
    rows(spark.read.parquet(s"$dir/m"))
  }

  private val corpus = Seq(
    1L -> "a b c d",
    2L -> "a b c e", // J(1, 2) = 2/4: exactly on 1/2
    3L -> "solo", // one word: no bigrams
    4L -> (null: String),
    5L -> "x y x y x y", // bigram multiset of 5, set {x y, y x}
    6L -> "x y x y")

  test("probe: edge cases equal the brute-force set Jaccard") {
    val probes = Seq(
      11L -> "a b c d",
      12L -> "x y x y x",
      2L -> "a b c e", // in the corpus: the self-pair is dropped
      13L -> "lonely",
      14L -> (null: String),
      15L -> "a b c f g") // J with doc 1 = 2/5, below 1/2
    val want = exact(probes, corpus, 1, 2)(_ != _)
    assert(want == Set[Row5]((11, 1, 3, 3, 3), (11, 2, 2, 3, 3),
      (12, 5, 2, 2, 2), (12, 6, 2, 2, 2), (2, 1, 2, 3, 3)))
    assert(viaProbe(corpus, probes, 1, 2) == want)
  }

  test("fold: cross and within-batch edge cases equal the brute force") {
    val batch = Seq(
      11L -> "a b c d",
      12L -> "x y x y x",
      13L -> "lonely",
      14L -> (null: String),
      21L -> "p q r s",
      22L -> "p q r s t", // within pair with 21 at 3/4
      23L -> "p q p q p q") // within pair with nobody
    val want = exact(batch, corpus, 1, 2)((_, _) => true) ++
      exact(batch, batch, 1, 2)(_ < _)
    assert(want.contains((21L, 22L, 3L, 3L, 4L)) && want.contains((11L, 2L, 2L, 3L, 3L)))
    assert(viaFold(corpus, batch, 1, 2) == want)
  }

  test("property: probe and fold rows equal the brute force on random docs") {
    // four words, so repeats, shared bigrams and boundary ratios are common
    val text: Gen[String] = Gen.frequency(
      1 -> Gen.const(null: String),
      9 -> Gen.choose(0, 7).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" "))))
    val gen = for {
      nc <- Gen.choose(1, 10)
      corpusTexts <- Gen.listOfN(nc, text)
      np <- Gen.choose(1, 6)
      probeTexts <- Gen.listOfN(np, text)
      selfProbe <- Gen.oneOf(true, false) // a corpus id among the probes
      (num, den) <- Gen.oneOf((1, 2), (3, 5), (7, 10))
    } yield {
      val c = corpusTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val p = probeTexts.zipWithIndex.map { case (t, i) => (100L + i, t) }
      (c, p, if (selfProbe) p :+ (0L -> corpusTexts.head) else p, num, den)
    }
    val prop = Prop.forAll(gen) { case (c, batch, probes, num, den) =>
      val probeOk = viaProbe(c, probes, num, den) ==
        exact(probes, c, num, den)(_ != _)
      val foldOk = viaFold(c, batch, num, den) ==
        (exact(batch, c, num, den)((_, _) => true) ++
          exact(batch, batch, num, den)(_ < _))
      Prop(probeOk && foldOk) :| s"corpus=$c probes=$probes num/den=$num/$den"
    }
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }
}
