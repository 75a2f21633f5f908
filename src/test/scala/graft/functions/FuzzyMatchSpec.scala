package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** ClickHouse ngramDistance/ngramSearch parity kernel (q96): hand-pinned
  * multiset cases + randomized equivalence against a plain-Scala multiset
  * reference.
  */
class FuzzyMatchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def run(texts: Seq[String], needle: String, n: Int = 4) =
    FuzzyMatch.ngramMatch(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t"),
      "t", needle, n)
      .orderBy("id")
      .select("na", "inter", "dist", "search")
      .as[(Long, Long, Double, Double)].collect()

  /** Plain multiset reference: Σ_g min(count_A, count_B). */
  private def refInter(a: String, b: String, n: Int): Int = {
    def grams(s: String) =
      (0 to s.length - n).map(i => s.substring(i, i + n))
        .groupBy(identity).view.mapValues(_.size).toMap
    val (ga, gb) = (grams(a), grams(b))
    gb.map { case (g, c) => math.min(ga.getOrElse(g, 0), c) }.sum
  }

  test("hand-pinned cases: identical, disjoint, overlap, multiset saturation, short text") {
    val Seq(same, disjoint, overlap, multi, short) =
      run(Seq("abcd", "wxyz", "abcde", "abcdabcdabcd", "ab"), "abcd").toSeq
    assert(same == ((1L, 1L, 0.0, 1.0)))              // profiles identical
    assert(disjoint == ((1L, 0L, 1.0, 0.0)))          // no shared gram
    // "abcde": A = {abcd, bcde}, B = {abcd} → inter 1, dist (2+1-2)/3
    assert(overlap == ((2L, 1L, 1.0 / 3.0, 1.0)))
    // "abcdabcdabcd": A has abcd×3 but B carries ONE — min saturates at 1
    assert(multi == ((9L, 1L, 8.0 / 10.0, 1.0)))
    // shorter than n: empty profile, distance 1 by contract
    assert(short == ((0L, 0L, 1.0, 0.0)))
  }

  test("needle multiplicity counts: repeated needle gram demands repeats in text") {
    // needle "ababab" (n=4): abab×2? grams = abab, baba, abab → abab:2, baba:1
    assert(FuzzyMatch.needleGramCounts("ababab", 4) ==
      Seq("abab" -> 2, "baba" -> 1))
    val Seq(once, twice) = run(Seq("abab", "ababab"), "ababab").toSeq
    assert(once._2 == 1L)  // text has abab×1 → min(1,2)=1
    assert(twice._2 == 3L) // identical profiles: 2+1
    assert(twice._3 == 0.0 && twice._4 == 1.0)
  }

  test("randomized equivalence vs the plain multiset reference") {
    val rnd = new scala.util.Random(9613)
    val alpha = "abc"
    def word(len: Int) =
      (1 to len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    for (_ <- 1 to 8) {
      val needle = word(6 + rnd.nextInt(5))
      val texts = (1 to 20).map(_ => word(rnd.nextInt(30)))
      val got = run(texts, needle, n = 3)
      texts.zip(got).foreach { case (t, (na, inter, dist, search)) =>
        val nb = FuzzyMatch.needleGramCounts(needle, 3).map(_._2).sum
        assert(na == math.max(t.length - 2, 0).toLong)
        assert(inter == refInter(t, needle, 3).toLong, s"text '$t' needle '$needle'")
        assert(dist == (na + nb - 2.0 * inter) / (na + nb))
        assert(search == inter.toDouble / nb)
      }
    }
  }

  test("charGrams of a string shorter than n is empty (documented contract)") {
    // without the explicit guard, sequence(1, 0) evaluates as the
    // DESCENDING sequence [1, 0] and mints two bogus short substrings
    val got = Seq(("ab"), (""), ("abc"), ("abcd"))
      .toDF("t")
      .select(FuzzyMatch.charGrams(col("t"), 4).as("g"))
      .as[Seq[String]].collect()
    assert(got(0) == Seq.empty)
    assert(got(1) == Seq.empty)
    assert(got(2) == Seq.empty)
    assert(got(3) == Seq("abcd"))
  }

  test("ngramMatch is map-only (zero exchanges)") {
    val df = (1 to 10).map(i => (i.toLong, s"text $i")).toDF("id", "t")
    val plan = FuzzyMatch.ngramMatch(df, "t", "text", 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("r19 kernel ≡ HOF composition bit-for-bit (incl. multibyte + edge shapes)") {
    // the r19 ngramIntersect kernel replaced the let-binding HOF shape on
    // the hot path; gramStatHof keeps the composition as the reference.
    // Multibyte matters: grams are CODEPOINT substrings, so the kernel's
    // UTF-8 lead-byte walk must agree with substr()'s numChars arithmetic.
    val rnd = new scala.util.Random(20260818)
    val alpha = "abĸ☃c " // 1-, 2-, 3-byte codepoints + space
    def word(len: Int) =
      (1 to len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val needles = Seq("abca", "ĸ☃ab", "aaaa", word(8), word(12))
    val texts = (1 to 40).map(_ => word(rnd.nextInt(40))) ++
      Seq("", "a", "abc", "abcd", "ĸ☃ĸ☃ĸ☃", "    ", "abcaabca")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    needles.filter(_.length >= 4).foreach { needle =>
      val got = df.select(
          gramStatHof(col("t"), needle, 4)((_, inter) => inter).as("ref"),
          org.apache.spark.sql.graftbridge.ColumnBridge.column(
            FuzzyMatch.NgramIntersect(
              org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("t")),
              needle, 4)).as("krn"))
        .as[(Long, Long)].collect()
      got.zip(texts).foreach { case ((ref, krn), t) =>
        assert(ref == krn, s"needle '$needle' text '$t'")
      }
    }
  }

  test("r19 kernel: interpreted eval path agrees with codegen") {
    val needle = "fast table value"
    val tbl = FuzzyMatch.needleGramCounts(needle, 4)
    val expr = FuzzyMatch.NgramIntersect(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          "a fast table is a table of value and fast value")),
      needle, 4)
    val interpreted = expr.eval(null).asInstanceOf[Long]
    // reference: plain multiset intersection
    def grams(s: String) =
      (0 to s.length - 4).map(i => s.substring(i, i + 4))
        .groupBy(identity).view.mapValues(_.size).toMap
    val ga = grams("a fast table is a table of value and fast value")
    val ref = tbl.map { case (g, c) => math.min(ga.getOrElse(g, 0), c) }.sum.toLong
    assert(interpreted == ref)
    // null propagates
    assert(FuzzyMatch.NgramIntersect(
      org.apache.spark.sql.catalyst.expressions.Literal(
        null, org.apache.spark.sql.types.StringType), needle, 4).eval(null) == null)
  }

  test("needle shorter than n is rejected named") {
    val df = Seq((1L, "abc")).toDF("id", "t")
    val e = intercept[IllegalArgumentException](
      FuzzyMatch.ngramMatch(df, "t", "abc", 4))
    assert(e.getMessage.contains("at least 4 chars"))
  }

  /** The r15 HOF composition `FuzzyMatch.gramStat`'s kernel must match
    * bit-for-bit (same capped multiset intersection over the same
    * codepoint grams): the gram array materializes once per row as the
    * target of a 1-element let-binding `transform` (the fence is
    * non-deterministic by design, so CSE refuses to dedupe it), and the
    * D capped filter-count terms reference the lambda variable.
    */
  private def gramStatHof(text: Column, needle: String, n: Int)
      (stat: (Column, Column) => Column): Column = {
    val counts = FuzzyMatch.needleGramCounts(needle, n)
    val na = greatest(length(text) - lit(n - 1), lit(0)).cast("long")
    element_at(transform(array(OptimizerFence(FuzzyMatch.charGrams(text, n))),
      grams => {
        val inter = counts.map { case (g, c) =>
          least(size(filter(grams, x => x === lit(g))), lit(c))
        }.reduce(_ + _).cast("long")
        stat(na, inter)
      }), 1)
  }
}
