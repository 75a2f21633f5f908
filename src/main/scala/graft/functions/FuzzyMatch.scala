package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Fuzzy string matching by character n-gram profiles — ClickHouse's
  * `ngramDistance` / `ngramSearch` family (the fuzzy half of its string
  * search functions; reference scope: the ClickHouse surface the engine's
  * users query through, like the q73 IP and q78 geohash families).
  *
  * Contract (documented exactly, so the oracle can mirror it): the n-gram
  * profile of a string is the MULTISET of its overlapping length-`n`
  * character substrings (positions 1..len−n+1; strings shorter than `n`
  * have an empty profile). For haystack profile A and needle profile B:
  *
  *   - `dist` = (|A| + |B| − 2·|A∩B|) / (|A| + |B|) — multiset
  *     symmetric difference over total size (ClickHouse's ngramDistance
  *     shape; 0 = identical profiles, 1 = disjoint).
  *   - `search` = |A∩B| / |B| — the non-symmetric variant (ClickHouse
  *     ngramSearch: how much of the NEEDLE is present; insensitive to
  *     haystack length, the "find fuzzy needle in long doc" mode).
  *
  * |A∩B| is the multiset intersection Σ_g min(count_A(g), count_B(g)).
  * Both statistics are ONE correctly-rounded division over exact
  * integers (the ksTest/q90 discipline), so they hash-match the DuckDB
  * oracle bit-for-bit; the integer evidence (na, inter) is emitted
  * alongside. Case handling is the caller's (wrap in `lower` for the
  * CaseInsensitive variants, as q96 does).
  *
  * Scale shape: strictly map-only. The needle is a LITERAL: its gram
  * profile precomputes into a hash table at plan time and |A∩B| is ONE
  * codegen'd kernel call per row ([[Kernels.ngramIntersect]] — a single
  * O(len) pass over the UTF-8 bytes, no gram strings materialized; the
  * r15 HOF composition it replaced, kept in `FuzzyMatchSpec` as the
  * equivalence reference, paid O(len·D) comparisons plus D filtered-array
  * allocations per row).
  */
object FuzzyMatch {

  /** Overlapping length-`n` character grams of `c` as an array column
    * (multiset: occurrences kept, order = position).
    */
  def charGrams(c: Column, n: Int): Column = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    // the short case needs an explicit guard: sequence(1, 0) evaluates as
    // the DESCENDING sequence [1, 0] in Spark, which would mint two bogus
    // sub-n substrings instead of the documented empty profile
    when(length(c) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), length(c) - lit(n - 1)),
        i => c.substr(i, lit(n))))
  }

  /** Plain-Scala needle profile — the single source of truth shared with
    * the q96 oracle generator (gram → multiplicity, insertion order by
    * first occurrence so generated SQL is deterministic).
    */
  def needleGramCounts(needle: String, n: Int): Seq[(String, Int)] = {
    val grams = (0 to needle.length - n).map(i => needle.substring(i, i + n))
    grams.distinct.map(g => g -> grams.count(_ == g))
  }

  /** Multiset intersection |A∩B| of the text's gram profile against a
    * literal needle's, as ONE codegen'd kernel call
    * ([[Kernels.ngramIntersect]]): a single pass over the UTF-8 bytes,
    * each gram hashed in place against the precomputed needle table —
    * O(len) per row, zero gram arrays materialized. Replaces the r15
    * let-binding HOF shape (gram array materialized per row + D capped
    * filter-count terms, O(len·D) comparisons and D filtered-array
    * allocations per row — r19 measured it at 0.8 s/rep on the q96 corpus
    * and 2× that on q118, which evaluated the profile once per statistic).
    * `FuzzyMatchSpec` keeps the composition as the bit-equality
    * reference.
    */
  case class NgramIntersect(child: Expression, needle: String, n: Int)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = child.nullable
    override def prettyName: String = "ngram_intersect"

    @transient private lazy val table: NgramTable = {
      val counts = needleGramCounts(needle, n)
      new NgramTable(n,
        counts.map(_._1.getBytes("UTF-8")).toArray,
        counts.map(_._2).toArray)
    }

    override def nullSafeEval(input: Any): Any =
      Kernels.ngramIntersect(input.asInstanceOf[UTF8String], table)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val tbl = ctx.addReferenceObj("ngramTable", table,
        "graft.functions.NgramTable")
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.Kernels.ngramIntersect($s, $tbl);")
    }

    override protected def withNewChildInternal(newChild: Expression): NgramIntersect =
      copy(child = newChild)
  }

  private def gramStat(text: Column, needle: String, n: Int)
      (stat: (Column, Column) => Column): Column = {
    require(needle.length >= n,
      s"needle must be at least $n chars, got '${needle}'")
    val na = greatest(length(text) - lit(n - 1), lit(0)).cast("long")
    val inter = ColumnBridge.column(
      NgramIntersect(ColumnBridge.expression(text), needle, n))
    stat(na, inter)
  }

  /** ClickHouse `ngramDistance(haystack, needle)` as one scalar Column —
    * the [[ngramMatch]] `dist` statistic ((|A| + |B| − 2·|A∩B|) /
    * (|A| + |B|)), bit-equal to it by construction (same integer
    * evidence, same one division). Case handling is the caller's (wrap
    * in `lower` for the CaseInsensitive variants).
    */
  def ngramDistance(text: Column, needle: String, n: Int = 4): Column = {
    val nb = needleGramCounts(needle, n).map(_._2).sum.toLong
    gramStat(text, needle, n) { (na, inter) =>
      (na + lit(nb) - lit(2L) * inter).cast("double") /
        (na + lit(nb)).cast("double")
    }
  }

  /** ClickHouse `ngramSearch(haystack, needle)` as one scalar Column —
    * the [[ngramMatch]] `search` statistic (|A∩B| / |B|): how much of
    * the NEEDLE is present, insensitive to haystack length.
    */
  def ngramSearch(text: Column, needle: String, n: Int = 4): Column = {
    val nb = needleGramCounts(needle, n).map(_._2).sum
    gramStat(text, needle, n) { (_, inter) =>
      inter.cast("double") / lit(nb.toDouble)
    }
  }

  /** Append (na, inter, dist, search) for `textCol` vs a literal
    * `needle` (see object doc for the exact statistics). `needle` must
    * carry at least one gram.
    */
  def ngramMatch(df: DataFrame, textCol: String, needle: String,
      n: Int = 4): DataFrame = {
    val nb = needleGramCounts(needle, n).map(_._2).sum
    // inter through the same let-binding shape as the scalar forms (r15:
    // binding the gram array to a lambda variable instead of a fenced
    // projection column cut the q96-corpus scan 3.2 s → 0.4 s — the
    // attribute reference still walked the serialized array per term);
    // dist/search then derive from the na/inter ATTRIBUTES — identical
    // integers, identical divisions, oracle-stable
    df.withColumn("na", greatest(length(col(textCol)) - lit(n - 1), lit(0))
        .cast("long"))
      .withColumn("inter",
        gramStat(col(textCol), needle, n)((_, inter) => inter))
      .withColumn("dist",
        (col("na") + lit(nb.toLong) - lit(2L) * col("inter")).cast("double") /
          (col("na") + lit(nb.toLong)).cast("double"))
      .withColumn("search",
        col("inter").cast("double") / lit(nb.toDouble))
  }
}
