package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "THE  QUICK   brown fox jumps over the lazy dog"), // exact dup after normalize
    (2L, "the quick brown fox jumps over the lazy cat"),    // near dup (1 token)
    (3L, "completely different content about spark engines and shuffles"),
    (4L, "the quick brown fox jumps over the lazy dog today")) // near dup (append)
    .toDF("doc_id", "text")

  test("exact dedup groups normalize case/whitespace and keep min id") {
    val groups = Dedup.exactGroups(docs).collect()
    assert(groups.length == 4) // 0≡1 collapse
    val dup = groups.find(_.getAs[Long]("n_docs") == 2).get
    assert(dup.getAs[Long]("keep_id") == 0L)
    val kept = Dedup.exactDedup(docs).select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(0L, 2L, 3L, 4L)))
  }

  test("shingles: n-gram construction and short-doc fallback") {
    val sh = docs.select(Dedup.shingles(col("text"), 3).as("s"))
      .where(col("s").isNotNull).limit(1).as[Seq[String]].collect().head
    assert(sh.head == "the quick brown" && sh(1) == "quick brown fox")
    val short = Seq((9L, "tiny doc")).toDF("doc_id", "text")
      .select(Dedup.shingles(col("text"), 3).as("s")).as[Seq[String]].collect().head
    assert(short == Seq("tiny doc"))
  }

  test("minhash LSH finds the near-dup pairs and skips unrelated docs") {
    val pairs = Dedup.minhashNearDups(docs, shingleSize = 2, numHashes = 64,
      rowsPerBand = 4, threshold = 0.4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L))) // identical after normalize → jaccard 1
    assert(pairs.contains((0L, 2L)) || pairs.contains((0L, 4L))) // near dups surface
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated never pairs
  }

  test("minhash signature is deterministic across invocations") {
    val s1 = docs.select(Dedup.minhashSignature(col("text"), 3, 32).as("sig"))
      .as[Seq[Long]].collect()
    val s2 = docs.select(Dedup.minhashSignature(col("text"), 3, 32).as("sig"))
      .as[Seq[Long]].collect()
    assert(s1.toSeq == s2.toSeq)
  }

  test("simhash: identical docs → distance 0; near dups closer than unrelated") {
    val fp = docs.select(col("doc_id"), Dedup.simhash64(col("text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fp(0L) == fp(1L)) // same tokens after normalize
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(dist(fp(0L), fp(2L)) < dist(fp(0L), fp(3L)))
    assert(dist(fp(0L), fp(4L)) < dist(fp(0L), fp(3L)))
  }

  test("ngram jaccard within block") {
    val blocked = docs.withColumn("source", lit("s1"))
    val pairs = Dedup.ngramJaccardPairs(blocked, "source", shingleSize = 2, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("cross-corpus survivors: near-dups of the corpus are dropped, fresh docs kept") {
    val corpus = docs
    val batch = Seq(
      (100L, "THE QUICK brown fox jumps over the lazy dog"), // ≡ corpus 0 → dropped
      (101L, "an entirely novel sentence with unseen vocabulary throughout"),
      (102L, "the quick brown fox jumps over the lazy dog today")) // ≡ corpus 4 → dropped
      .toDF("doc_id", "text")
    val kept = Dedup.crossCorpusSurvivors(batch, corpus,
      shingleSize = 2, numHashes = 64, rowsPerBand = 4, threshold = 0.8)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(101L)))
  }

  test("decontaminate: train docs sharing an n-gram with eval are dropped") {
    val train = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),   // shares 4-gram with eval
      (1L, "one two three four five six seven eight nine"),    // clean
      (2L, "ALPHA beta GAMMA delta unrelated tail here now"))  // shares after normalize
      .toDF("doc_id", "text")
    val eval = Seq(
      (100L, "prefix words alpha beta gamma delta suffix")).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(train, eval, n = 4)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(1L)))
  }

  test("embedding near-dups by cosine threshold") {
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.99f, 0.1f, 0f, 0f)), // ~0.995 cosine with 0
      (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(-1f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(emb, threshold = 0.9)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("duplicatedSpans: overlapping k-token spans shared across docs") {
    val docs = Seq(
      (1L, "a b c d e unique tail one"),        // shares "a b c d e"… no: k=3 spans
      (2L, "x y a b c d z"),                    // shares spans "a b c", "b c d" with 1
      (3L, "totally different words here"),     // no shared span
      (4L, "p q r p q r p q"))                  // intra-doc repeats only (n_docs=1)
      .toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(docs, k = 3)
      .select("n_docs", "n_occ", "first_doc")
      .as[(Long, Long, Long)].collect().sorted
    // exactly the two 3-grams shared by docs 1 and 2
    assert(out.sameElements(Array((2L, 2L, 1L), (2L, 2L, 1L))))
    // intra-doc repetition alone does not qualify, but counts occurrences
    val all = Dedup.duplicatedSpans(docs, k = 3, minDocs = 1)
      .where(col("first_doc") === 4L)
      .select("n_docs", "n_occ").as[(Long, Long)].collect()
    assert(all.contains((1L, 2L))) // "p q r" occurs twice inside doc 4
  }

  test("bloomDecontaminate ≡ decontaminate (prefilter + exact verify is exact)") {
    val train = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "one two three four five six seven eight nine"),
      (2L, "ALPHA beta GAMMA delta unrelated tail here now"),
      (3L, "ten eleven twelve thirteen fourteen fifteen sixteen"))
      .toDF("doc_id", "text")
    val eval = Seq(
      (100L, "prefix words alpha beta gamma delta suffix")).toDF("doc_id", "text")
    val exact = Dedup.decontaminate(train, eval, n = 4)
      .select("doc_id").as[Long].collect().sorted
    val bloomed = Dedup.bloomDecontaminate(train, eval, n = 4)
      .select("doc_id").as[Long].collect().sorted
    assert(bloomed.sameElements(exact))
    assert(exact.sameElements(Array(1L, 3L)))
  }

  test("semanticDecontaminate drops train vectors near any eval vector") {
    val train = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0.999f, 0.01f, 0f, 0f)), // ≈ eval 100 → dropped
      (3L, Array(0f, 0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val eval = Seq((100L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val kept = Dedup.semanticDecontaminate(train, eval, threshold = 0.99)
      .select("vec_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(1L, 3L))) // 0 exact match, 2 near match
  }

  test("semanticDedup keeps one representative per embedding cluster") {
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.99f, 0.1f, 0f, 0f)),   // ≈ 0 → cluster {0,1}, keep 0
      (5L, Array(0.995f, 0.05f, 0f, 0f)), // ≈ 0 and 1 → same cluster, dropped
      (2L, Array(0f, 1f, 0f, 0f)),        // singleton, kept
      (3L, Array(-1f, 0f, 0f, 0f)))       // singleton, kept
      .toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedup(emb, threshold = 0.9)
      .as[Long].collect().sorted
    assert(kept.sameElements(Array(0L, 2L, 3L)))
  }

  test("semanticDedup: blocked (LSH) path recall >= 0.95 vs exact truth at sf0.01") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val all = emb.select("vec_id").as[Long].collect().toSet
    val keptExact = Dedup.semanticDedup(emb, threshold = 0.45,
      pairGen = Dedup.SemPairGen.Exact).as[Long].collect().toSet
    val keptBlocked = Dedup.semanticDedup(emb, threshold = 0.45).as[Long].collect().toSet
    val droppedExact = all -- keptExact
    val droppedBlocked = all -- keptBlocked
    // blocked candidates ⊆ exact candidates ⇒ the dropped set can only shrink
    assert(droppedBlocked.subsetOf(droppedExact))
    assert(droppedExact.nonEmpty, "sf0.01 corpus should contain semantic dups")
    val recall = droppedBlocked.size.toDouble / droppedExact.size
    assert(recall >= 0.95, s"blocked-path recall $recall " +
      s"(${droppedBlocked.size}/${droppedExact.size})")
  }

  test("scrubDuplicatedSpans: copies lose the shared span, first doc keeps it") {
    val eight = "w1 w2 w3 w4 w5 w6 w7 w8"
    val corpus = Seq(
      (1L, s"$eight unique tail one"),     // first doc: keeps the span
      (2L, s"$eight other ending here"),   // copy: span scrubbed
      (3L, "completely different words entirely distinct tokens all throughout"),
      (4L, "tiny doc"),                    // short doc (whole-doc span, unique)
      (5L, "tiny doc"))                    // short dup: doc 4 keeps, doc 5 scrubbed
      .toDF("doc_id", "text")
    val out = Dedup.scrubDuplicatedSpans(corpus, k = 8)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == (s"$eight unique tail one", 0L))
    assert(out(2L) == ("other ending here", 8L))
    assert(out(3L)._2 == 0L)
    assert(out(4L) == ("tiny doc", 0L))
    assert(out(5L) == ("", 2L))
  }

  test("duplicate clusters: transitive components with min-id labels") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("a", "b")
    val cc = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    // chain of length 6: exercises multiple propagation iterations
    val chain = Seq((5L, 6L), (6L, 7L), (7L, 8L), (8L, 9L), (9L, 12L)).toDF("a", "b")
    val cc2 = Dedup.duplicateClusters(chain).as[(Long, Long)].collect().toMap
    assert(cc2.values.toSet == Set(5L) && cc2.size == 6)
    // distributed path (cutoff 0 forces the Pregel loop) agrees with the
    // driver union-find on both graphs
    assert(Dedup.duplicateClusters(pairs, driverEdgeCutoff = 0L)
      .as[(Long, Long)].collect().toMap == cc)
    assert(Dedup.duplicateClusters(chain, driverEdgeCutoff = 0L)
      .as[(Long, Long)].collect().toMap == cc2)
  }

  test("paragraph dedup: delimiter mode cuts repeats, keeps global first") {
    val pdocs = Seq(
      (0L, "Alpha beta gamma.\n\nShared  Footer Text\n\nunique zero"),
      (1L, "different body one\n\nshared footer text"),
      (2L, "shared footer text\n\nDIFFERENT BODY two"),
      (3L, "all original content here")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(pdocs).orderBy("doc_id")
      .as[(Long, String, Long)].collect()
    // footer normalizes identically everywhere; doc 0 pos 1 is first
    assert(out(0) == ((0L, "alpha beta gamma.\n\nshared footer text\n\nunique zero", 0L)))
    assert(out(1) == ((1L, "different body one", 1L)))
    assert(out(2) == ((2L, "different body two", 1L)))
    assert(out(3) == ((3L, "all original content here", 0L)))
  }

  test("paragraph dedup: intra-doc repeat keeps only first occurrence") {
    val pdocs = Seq(
      (7L, "same block\n\nmiddle part\n\nsame block")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(pdocs).as[(Long, String, Long)].collect().head
    assert(out == ((7L, "same block\n\nmiddle part", 1L)))
  }

  test("paragraph dedup: token-block mode with block-aligned copies") {
    val base = "a b c d e f g h i j"                // 10 toks → blocks of 4: 3 paras
    val pdocs = Seq(
      (0L, base),
      (1L, "a b c d x y z w"),                      // shares block 0 of doc 0
      (2L, "q r s t u v")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(pdocs, block = 4, joinWith = " ")
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    assert(out(0) == ((0L, "a b c d e f g h i j", 0L)))
    assert(out(1) == ((1L, "x y z w", 1L)))         // "a b c d" cut, doc 0 kept it
    assert(out(2) == ((2L, "q r s t u v", 0L)))
    // empty and sub-block docs survive untouched
    val tiny = Seq((9L, "solo"), (10L, "")).toDF("doc_id", "text")
    val t = Dedup.paragraphDedup(tiny, block = 4, joinWith = " ")
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    assert(t(0) == ((9L, "solo", 0L)) && t(1) == ((10L, "", 0L)))
  }

  test("boilerplate strip: ubiquitous paragraph cut EVERYWHERE, rare survives, " +
    "intra-doc repeats don't count toward the doc threshold") {
    val pdocs = Seq(
      (0L, "body zero\n\nCookie  Banner Text\n\nrare pair"),
      (1L, "cookie banner text\n\nbody one\n\nrare pair"),
      (2L, "body two\n\ncookie banner text"),
      // doc 3 repeats the refrain TWICE but it appears in only 2 DISTINCT
      // docs (3 and 4) — under minDocs=3 it must survive in both
      (3L, "refrain block\n\nmiddle three\n\nrefrain block"),
      (4L, "refrain block\n\nbody four")).toDF("doc_id", "text")
    val out = Dedup.boilerplateStrip(pdocs, minDocs = 3).orderBy("doc_id")
      .as[(Long, String, Long)].collect()
    // banner is in 3 distinct docs → cut from all three, FIRST included
    assert(out(0) == ((0L, "body zero\n\nrare pair", 1L)))
    assert(out(1) == ((1L, "body one\n\nrare pair", 1L)))
    assert(out(2) == ((2L, "body two", 1L)))
    // "rare pair" (2 docs) and "refrain block" (2 distinct docs, one of
    // them twice) both stay — dedup would have cut the non-first copies
    assert(out(3) == ((3L, "refrain block\n\nmiddle three\n\nrefrain block", 0L)))
    assert(out(4) == ((4L, "refrain block\n\nbody four", 0L)))
    // drop the threshold: minDocs=2 removes the refrain from BOTH docs
    // and both of doc 3's copies at once
    val low = Dedup.boilerplateStrip(pdocs, minDocs = 2).orderBy("doc_id")
      .as[(Long, String, Long)].collect()
    assert(low(3) == ((3L, "middle three", 2L)))
    assert(low(4) == ((4L, "body four", 1L)))
  }

  test("scrubTokens rebuild kernel ≡ interpreted split+filter+array_join HOF") {
    // randomized battery: empty tokens (runs of spaces), multibyte
    // tokens, empty string, null cut (the left-join miss), duplicate /
    // negative / out-of-range cut positions
    val rnd = new scala.util.Random(42)
    val rows = (0 until 300).map { i =>
      val nTok = rnd.nextInt(12)
      val toks = (0 until nTok).map { _ =>
        rnd.nextInt(6) match {
          case 0 => ""
          case 1 => "é" + rnd.nextInt(9) + "漢"
          case _ => "w" + rnd.nextInt(9)
        }
      }
      val text = toks.mkString(" ")
      val cut: Seq[Int] =
        if (rnd.nextInt(8) == 0) null
        else (0 until rnd.nextInt(8)).map(_ => rnd.nextInt(18) - 3)
      (i.toLong, text, cut)
    } :+ ((300L, null.asInstanceOf[String], Seq(1)))
    val df = rows.toDF("id", "norm", "cut")
    val out = df.select(col("id"),
      graft.functions.TextExprs.scrubTokens(col("norm"), col("cut")).as("kernel"),
      scrubTokensRef(col("norm"), col("cut")).as("ref"))
      .collect()
    out.foreach { r =>
      assert(r.get(1) == r.get(2),
        s"scrubTokens mismatch for id=${r.getLong(0)}: " +
          s"kernel=${r.get(1)} ref=${r.get(2)}")
    }
  }

  test("joinExcept rebuild kernel ≡ interpreted filter+array_join HOF") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 300).map { i =>
      val n = rnd.nextInt(8)
      val paras: Seq[String] = (0 until n).map { _ =>
        rnd.nextInt(7) match {
          case 0 => null
          case 1 => ""
          case 2 => "p漢" + rnd.nextInt(9)
          case _ => "para " + rnd.nextInt(9)
        }
      }
      val cut: Seq[Int] =
        if (rnd.nextInt(8) == 0) null
        else (0 until rnd.nextInt(6)).map(_ => rnd.nextInt(12) - 2)
      (i.toLong, paras, cut)
    } :+ ((300L, null.asInstanceOf[Seq[String]], Seq(0)))
    val df = rows.toDF("id", "paras", "cut")
    val out = df.select(col("id"),
      graft.functions.TextExprs.joinExcept(col("paras"), col("cut"), "\n\n", 0)
        .as("kernel"),
      joinExceptRef(col("paras"), col("cut"), "\n\n")
        .as("ref"))
      .collect()
    out.foreach { r =>
      assert(r.get(1) == r.get(2),
        s"joinExcept mismatch for id=${r.getLong(0)}: " +
          s"kernel=${r.get(1)} ref=${r.get(2)}")
    }
  }

  /** The interpreted composition `TextExprs.ScrubTokens` replaces — the
    * equivalence reference, never on a hot path.
    */
  private def scrubTokensRef(norm: Column, cut: Column): Column =
    array_join(filter(split(norm, " "),
      (t, i) => !coalesce(array_contains(cut, i + 1), lit(false))), " ")

  /** The interpreted composition `TextExprs.JoinExcept` replaces (base = 0). */
  private def joinExceptRef(arr: Column, cut: Column, sep: String): Column =
    array_join(filter(arr, (p, i) => !coalesce(array_contains(cut, i),
      lit(false))), sep)
}
