package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("brute-force top-k: k rows per query, self excluded, rank contiguous") {
    val res = Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 5), k = 3)
      .as[(Long, Int, Long)].collect()
    assert(res.length == 15)
    val byQuery = res.groupBy(_._1)
    assert(byQuery.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQuery.values.foreach { rows =>
      assert(rows.map(_._2).sorted.sameElements(Array(1, 2, 3)))
      rows.foreach { case (q, _, n) => assert(q != n) }
    }
  }

  test("LSH ANN: no false positives on real data; high recall on true near-dups") {
    // subset property on real embeddings (verify step re-checks cosine)
    val truth = Dedup.embeddingNearDups(emb, threshold = 0.3)
      .as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshCosinePairs(emb, threshold = 0.3, nPlanes = 6, nTables = 12)
      .as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(truth))

    // recall on engineered near-dups (cos ≈ 0.995 — the LSH design point;
    // random-hyperplane collision prob for cos 0.3 pairs is inherently low)
    val rnd = new scala.util.Random(7)
    val base = Array.fill(50)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val dups = base.zipWithIndex.map { case (v, i) =>
      (i + 1000L, v.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }
    val all = base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++ dups
    val df = all.toSeq.toDF("vec_id", "embedding")
    val found = Similarity.lshCosinePairs(df, threshold = 0.9, nPlanes = 6, nTables = 12)
      .as[(Long, Long)].collect().toSet
    val expected = (0 until 50).map(i => (i.toLong, i + 1000L)).toSet
    val recall = expected.count(found.contains).toDouble / expected.size
    assert(recall >= 0.8, s"recall $recall (found ${found.size})")
  }

  test("IVF: equals the naive window-assignment definition; corpus never shuffles ×centroids") {
    import org.apache.spark.sql.expressions.Window
    val queries = emb.where(col("vec_id") < 10)
    val res = Similarity.ivfTopK(emb, queries, k = 5)
    // naive definition: nearest centroid per corpus vector via row_number
    // over the cross product (the shape the operator must NOT plan, but
    // whose RESULT it must reproduce exactly)
    val e = emb.select(col("vec_id").as("nid"),
      col("embedding").cast("array<double>").as("nv"))
      .withColumn("nn", Similarity.l2norm(col("nv")))
    val cent = emb.filter(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").cast("array<double>").as("cv"))
      .withColumn("cn", Similarity.l2norm(col("cv")))
    val wA = Window.partitionBy(col("nid")).orderBy(col("ccos").desc, col("cent_id"))
    val assigned = e.crossJoin(broadcast(cent))
      .withColumn("ccos", Similarity.cosine(col("nv"), col("cv"), col("nn"), col("cn")))
      .withColumn("rn", row_number().over(wA)).where(col("rn") === 1)
      .select(col("cent_id"), col("nid"), col("nv"), col("nn"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("qv"))
      .withColumn("qn", Similarity.l2norm(col("qv")))
    val wP = Window.partitionBy(col("query_id")).orderBy(col("ccos").desc, col("cent_id"))
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("ccos", Similarity.cosine(col("qv"), col("cv"), col("qn"), col("cn")))
      .withColumn("rn", row_number().over(wP)).where(col("rn") <= 2)
      .select(col("cent_id"), col("query_id"), col("qv"), col("qn"))
    val wR = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("nid"))
    val naive = probes.join(assigned, "cent_id")
      .where(col("query_id") =!= col("nid"))
      .withColumn("cos", Similarity.cosine(col("qv"), col("nv"), col("qn"), col("nn")))
      .withColumn("rank", row_number().over(wR)).where(col("rank") <= 5)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("nid").as("neighbor_id"))
    assert(res.as[(Long, Int, Long)].collect().sortBy(r => (r._1, r._2)).toSeq ==
      naive.as[(Long, Int, Long)].collect().sortBy(r => (r._1, r._2)).toSeq)
    // plan shape: centroid assignment is an AGGREGATE on nid (map-side
    // partial combine), never a window clustering the cross product on nid
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val lp = res.queryExecution.optimizedPlan
    val nidWindow = lp.exists {
      case w: LWindow => w.partitionSpec.exists(_.references.exists(_.name == "nid"))
      case _ => false
    }
    assert(!nidWindow, lp.toString)
  }

  test("IVF-cell pairs: subset of exact; engineered near-dups recovered") {
    // no false positives on real data (exact-cosine verify)
    val truth = Dedup.embeddingNearDups(emb, threshold = 0.3)
      .as[(Long, Long)].collect().toSet
    val cellPairs = Similarity.ivfCellPairs(emb, threshold = 0.3,
      centroidMod = 7, nProbe = 2)
      .as[(Long, Long)].collect().toSet
    assert(cellPairs.subsetOf(truth))

    // engineered near-identical pairs (cos ≈ 0.995): both members see
    // nearly identical centroid cosines, so nProbe=2 probing recovers them
    val rnd = new scala.util.Random(11)
    val base = Array.fill(60)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val dups = base.zipWithIndex.map { case (v, i) =>
      (i + 1000L, v.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }
    val all = base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++ dups
    val df = all.toSeq.toDF("vec_id", "embedding")
    val found = Similarity.ivfCellPairs(df, threshold = 0.9,
      centroidMod = 9, nProbe = 2)
      .as[(Long, Long)].collect().toSet
    val expected = (0 until 60).map(i => (i.toLong, i + 1000L)).toSet
    val recall = expected.count(found.contains).toDouble / expected.size
    assert(recall >= 0.9, s"ivf-cell recall $recall (found ${found.size})")
  }

  test("Lloyd-refined centroids lift recall at fixed nProbe (measured finding)") {
    // MEASURED FINDING (r6 verdict item 8): on the test embeddings, Lloyd
    // refinement lifts recall at EVERY fixed probe count (grid measured
    // here once: @1 0.170→0.222, @2 0.317→0.400, @4 0.491→0.596 for
    // lloyd 0→2; iteration 3 is flat-to-noisy) but does NOT halve the
    // probe count (lloyd-2@2 = 0.400 < sampled@4 = 0.491): these vectors
    // are near-isotropic random points with no cluster structure, so cell
    // occupancy stays diffuse no matter where centroids sit. On clustered
    // production embeddings the probe-halving claim should be re-measured;
    // here we pin the same-probe lift, which is the honest invariant.
    val queries = emb.where(col("vec_id") % 11 === 3)
    val truth = Similarity.bruteForceTopK(emb, queries, k = 5)
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    def recallOf(nProbe: Int, lloydIters: Int): Double = {
      val got = Similarity.ivfTopK(emb, queries, k = 5,
        nProbe = nProbe, lloydIters = lloydIters)
        .as[(Long, Int, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
      val hits = truth.toSeq.map { case (q, t) =>
        t.count(got.getOrElse(q, Set.empty).contains).toDouble / t.size }
      hits.sum / hits.size
    }
    val s2 = recallOf(nProbe = 2, lloydIters = 0)
    val l2 = recallOf(nProbe = 2, lloydIters = 2)
    val s4 = recallOf(nProbe = 4, lloydIters = 0)
    val l4 = recallOf(nProbe = 4, lloydIters = 2)
    info(f"recall@2: sampled=$s2%.3f lloyd2=$l2%.3f; recall@4: sampled=$s4%.3f lloyd2=$l4%.3f")
    // margin 0.03 under the measured +0.083/+0.105 lifts absorbs the
    // sum-order nondeterminism of the distributed mean
    assert(l2 >= s2 + 0.03, f"lloyd-2@2 $l2%.3f vs sampled@2 $s2%.3f: lift gone")
    assert(l4 >= s4 + 0.03, f"lloyd-2@4 $l4%.3f vs sampled@4 $s4%.3f: lift gone")
  }

  test("dot/cosine math: known vectors") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    val d = df.select(Similarity.dot(col("a"), col("b"))).as[Double].collect().head
    assert(d == 32.0)
    val n = df.select(Similarity.l2norm(col("a"))).as[Double].collect().head
    assert(math.abs(n - math.sqrt(14.0)) < 1e-12)
  }

  test("ivfAutoCentroidMod: √n-balanced cell sizing, floored at the " +
    "test-scale default") {
    // floor: tiny corpora keep the deterministic small-mod design point
    assert(Similarity.ivfAutoCentroidMod(0L) == 37)
    assert(Similarity.ivfAutoCentroidMod(1000L) == 37)
    // √n growth: cells of ≈√n vectors — assignment n^1.5, not n²/mod
    // (the r16 factor-30 probe's named superlinear term)
    assert(Similarity.ivfAutoCentroidMod(10000L) == 100)
    assert(Similarity.ivfAutoCentroidMod(1000000L) == 1000)
    Seq(10000L, 1000000L, 1000000000L).foreach { n =>
      val mod = Similarity.ivfAutoCentroidMod(n).toDouble
      val centroids = n / mod
      // balanced within 2×: cell size and cell count within a factor
      // of 2 of each other
      assert(centroids / mod < 2.0 && mod / centroids < 2.0,
        s"unbalanced at n=$n mod=$mod centroids=$centroids")
    }
  }

  test("lshAutoPlanes: occupancy-bounded plane count, floored at 4") {
    // floor: tiny corpora keep the 4-plane low-threshold design point
    assert(Similarity.lshAutoPlanes(0L) == 4)
    assert(Similarity.lshAutoPlanes(1L) == 4)
    assert(Similarity.lshAutoPlanes(500L) == 4)   // sf0.01 — d15's regime
    assert(Similarity.lshAutoPlanes(512L) == 4)
    // growth: 2^planes buckets >= n / 32, so occupancy stays <= ~32
    assert(Similarity.lshAutoPlanes(2000L) == 6)   // sf0.1
    assert(Similarity.lshAutoPlanes(20000L) == 10) // bench 10x probe
    assert(Similarity.lshAutoPlanes(1000000L) == 15)
    (Seq(500L, 2000L, 20000L, 1000000L, 1000000000L)).foreach { n =>
      val p = Similarity.lshAutoPlanes(n)
      assert(n.toDouble / math.pow(2, p) <= 32.0 + 1e-9,
        s"occupancy bound violated at n=$n planes=$p")
    }
  }

  test("lshAutoTables: constant signature budget, clamped to [4, 16]") {
    assert(Similarity.lshAutoTables(4) == 16)  // d15's sf0.01 design point unchanged
    assert(Similarity.lshAutoTables(6) == 11)  // sf0.1
    assert(Similarity.lshAutoTables(10) == 6)  // bench 10x probe
    assert(Similarity.lshAutoTables(15) == 4)
    assert(Similarity.lshAutoTables(64) == 4)  // floor
    assert(Similarity.lshAutoTables(1) == 16)  // cap
    // the budget: planes x tables never exceeds ~80 projections per row
    // until the 4-table floor takes over (recall headroom > budget there)
    (4 to 40).foreach { p =>
      val t = Similarity.lshAutoTables(p)
      assert(p * t <= math.max(80, 4 * p), s"budget blown at planes=$p tables=$t")
    }
  }

  test("PQ: training is deterministic; codes are in-range, near-identical vectors share codes") {
    val m1 = Similarity.pqTrain(emb, m = 4, k = 8, iters = 2)
    val m2 = Similarity.pqTrain(emb, m = 4, k = 8, iters = 2)
    assert(m1.subDim == 16)
    assert(m1.codebooks.map(_.map(_.toSeq)) == m2.codebooks.map(_.map(_.toSeq)),
      "same corpus must train the same model")
    val codes = Similarity.pqEncode(emb, m1).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.values.forall(_.length == 4))
    codes.values.foreach(c => c.zipWithIndex.foreach { case (j, s) =>
      assert(j >= 0 && j < m1.codebooks(s).length, s"code $j out of range in sub $s") })
    // a vector and a tiny perturbation of it must encode identically
    // (PQ cells are coarse; scaling by a constant is the SAME unit vector)
    val pair = emb.limit(1).select(col("vec_id"), col("embedding"))
      .union(emb.limit(1).select(col("vec_id") + 100000,
        transform(col("embedding"), x => x * 2.0f)))
    val pc = Similarity.pqEncode(pair, m1).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    assert(pc.values.toSet.size == 1, s"scaled copy diverged: $pc")
  }

  test("PQ encode kernel ≡ interpreted HOF composition on random vectors") {
    val rnd = spark.range(0, 300, 1, 4).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(31)),
        i => sin(col("id") * 37 + i * 13).cast("double")).as("embedding"))
    val model = Similarity.pqTrain(rnd, m = 4, k = 8, iters = 2)
    val kernel = Similarity.pqEncode(rnd, model).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    val nv = transform(col("embedding"),
      x => x / sqrt(aggregate(zip_with(col("embedding"), col("embedding"),
        (a, b) => a * b), lit(0.0), _ + _)))
    val hof = rnd.select(col("vec_id"), pqCodesHof(nv, model).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    assert(kernel == hof)
  }

  test("ADC sum kernel ≡ interpreted HOF composition (null algebra included)") {
    // randomized codes/tables + adversarial rows: out-of-range codes
    // (element_at → null → null sum), negative codes (element_at's
    // from-the-end indexing), codes longer than the table and vice versa
    // (zip_with null padding), null table cells. The kernel must agree
    // with the stock HOF composition CELL FOR CELL, nulls included.
    val rows = spark.range(0, 400, 1, 4)
      .select(col("id"),
        // m varies 1..8; most codes in range [0, 16), every 7th row gets
        // an out-of-range code, every 11th a negative (from-end) one
        transform(sequence(lit(0), pmod(col("id"), lit(8)).cast("int")),
          s => when(pmod(col("id") + s, lit(7)) === 0, lit(99))
            .when(pmod(col("id") + s, lit(11)) === 0, lit(-2))
            .otherwise(pmod(col("id") * 31 + s * 17, lit(16)).cast("int")))
          .as("codes"),
        // table of (id%8)+1 sub-tables (sometimes shorter than codes),
        // each 16 doubles; every 13th row nulls one sub-table out
        transform(sequence(lit(0), pmod(col("id") * 3, lit(8)).cast("int")),
          s => when(pmod(col("id") + s, lit(13)) === 0,
              lit(null).cast("array<double>"))
            .otherwise(transform(sequence(lit(0), lit(15)),
              j => sin(col("id") * 7 + s * 5 + j).cast("double"))))
          .as("tbl"))
    val both = rows.select(
      graft.functions.VectorExprs.adcSum(col("codes"), col("tbl")).as("kernel"),
      aggregate(zip_with(col("codes"), col("tbl"),
          (code, t) => element_at(t, code + 1)),
        lit(0.0), _ + _).as("hof")).collect()
    both.zipWithIndex.foreach { case (r, i) =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null mismatch at row $i: $r")
      if (!r.isNullAt(0))
        assert(r.getDouble(0) == r.getDouble(1), s"value mismatch at row $i: $r")
    }
    assert(both.exists(!_.isNullAt(0)), "want non-null coverage")
    assert(both.exists(_.isNullAt(0)), "want null coverage")
  }

  test("ADC sum kernel mirrors element_at's index-0 throw even past a null lookup") {
    // zip_with materializes eagerly, so the HOF throws on code = -1 at
    // ANY position — including AFTER a position whose lookup is null
    // (out-of-range code at position 0 here). The kernel must throw too,
    // not return the fold's early null (r20 ADVICE fix).
    val row = spark.range(1).select(
      typedlit(Seq(99, -1)).as("codes"), // 99 → null lookup, -1 → index 0
      typedlit(Seq(Seq(1.0, 2.0), Seq(3.0, 4.0))).as("tbl"))
    def msg(c: => Unit): String =
      intercept[Exception] { c }.getMessage
    val hofMsg = msg(row.select(aggregate(zip_with(col("codes"), col("tbl"),
      (code, t) => element_at(t, code + 1)), lit(0.0), _ + _)).collect())
    val kMsg = msg(row.select(
      graft.functions.VectorExprs.adcSum(col("codes"), col("tbl"))).collect())
    assert(hofMsg != null && kMsg != null) // both paths throw
  }

  test("PQ ADC top-k: planted near-duplicate ranks first") {
    // corpus of well-separated one-hot-ish vectors + a planted near-copy
    // of the query: ADC must rank the copy at 1
    val dim = 16
    def vec(hot: Int, eps: Double): Array[Float] =
      Array.tabulate(dim)(i => (if (i == hot) 1.0 else if (i == (hot + 7) % dim) eps else 0.0).toFloat)
    val rows = (0 until 12).map(h => (h.toLong, vec(h % 6, 0.02 * h))) :+
      (100L, vec(2, 0.041)) // near-copy of id 2's cell
    val df = rows.toDF("vec_id", "embedding")
    val model = Similarity.pqTrain(df, m = 4, k = 4, iters = 2)
    val res = Similarity.pqTopK(Similarity.pqEncode(df, model),
      df.where(col("vec_id") === 100L), model, k = 3)
      .as[(Long, Int, Long)].collect().sortBy(_._2)
    assert(res.length == 3)
    assert(res.head._3 == 2L, s"expected planted neighbor 2 first, got ${res.toList}")
  }

  test("PQ recall vs exact truth on real embeddings (the s06 gate, re-measured)") {
    val queries = emb.where(col("vec_id") % 11 === 3)
    val model = Similarity.pqTrain(emb, m = 8, k = 16, iters = 2)
    val truth = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (truth & got).size.toDouble / truth.size
    }
    val adcOnly = recallOf(Similarity.pqTopK(
      Similarity.pqEncode(emb, model), queries, model, k = 5))
    val refined = recallOf(Similarity.pqTopK(emb, queries, model, k = 5,
      refine = 32))
    info(f"recall@5: adc-only=$adcOnly%.3f refined@32=$refined%.3f")
    // refinement can only widen the candidate pool the exact ranking sees
    assert(refined >= adcOnly,
      f"refined $refined%.3f below adc-only $adcOnly%.3f")
    assert(refined >= 0.55, f"PQ refined recall@5 $refined%.3f below the s06 floor")
  }

  test("IVF-PQ: planted near-duplicate survives cell pruning and ranks first") {
    val dim = 16
    def vec(hot: Int, eps: Double): Array[Float] =
      Array.tabulate(dim)(i => (if (i == hot) 1.0 else if (i == (hot + 7) % dim) eps else 0.0).toFloat)
    val rows = (0 until 12).map(h => (h.toLong, vec(h % 6, 0.02 * h))) :+
      (100L, vec(2, 0.041)) // near-copy of id 2's cell
    val df = rows.toDF("vec_id", "embedding")
    val model = Similarity.pqTrain(df, m = 4, k = 4, iters = 2)
    // centroidMod=5 → centroids {0,5,10,100}; the copy and id 2 share a
    // one-hot direction, so the copy's nearest cells contain id 2
    val res = Similarity.ivfPqTopK(df, df.where(col("vec_id") === 100L),
      model, k = 3, nProbe = 2, centroidMod = 5, refine = 6)
      .as[(Long, Int, Long)].collect().sortBy(_._2)
    assert(res.nonEmpty && res.head._3 == 2L,
      s"expected planted neighbor 2 first, got ${res.toList}")
  }

  test("IVF-PQ recall vs exact truth (the s07 gate, re-measured) + determinism") {
    val queries = emb.where(col("vec_id") % 11 === 3)
    val model = Similarity.pqTrain(emb, m = 8, k = 16, iters = 2)
    val truth = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def run() = Similarity.ivfPqTopK(emb, queries, model, k = 5,
      nProbe = 4, lloydIters = 2, refine = 32)
      .as[(Long, Int, Long)].collect().toSet
    val r1 = run()
    assert(r1 == run(), "IVF-PQ must be deterministic across invocations")
    val got = r1.map(r => (r._1, r._3))
    val recall = (truth & got).size.toDouble / truth.size
    info(f"ivf-pq recall@5 refined@32 nProbe=4: $recall%.3f")
    // cell pruning stacks on code quantization: gate looser than s06's,
    // and the tiny sf0.001 corpus (~50 vectors/cell) is the worst case
    assert(recall >= 0.3, f"ivf-pq recall degraded: $recall%.3f")
  }

  test("IVF-PQ with precomputed centroids ≡ inline centroid pull (r20 §2.6 overlap)") {
    // the s07 entry overlaps ivfPqCentroids with pqTrain on a driver
    // thread; the contract making that safe is row-for-row equality of
    // the precomputed and inline forms — including the Lloyd chain
    val queries = emb.where(col("vec_id") % 11 === 3)
    val model = Similarity.pqTrain(emb, m = 8, k = 16, iters = 1)
    def run(pre: Option[(Array[Long], Array[Array[Double]])]) =
      Similarity.ivfPqTopK(emb, queries, model, k = 5,
        nProbe = 3, centroidMod = 37, lloydIters = 2, refine = 16,
        precomputedCentroids = pre)
        .as[(Long, Int, Long)].collect().toSet
    val cents = Similarity.ivfPqCentroids(emb, centroidMod = 37, lloydIters = 2)
    assert(run(Some(cents)) == run(None),
      "precomputed-centroid IVF-PQ must equal the inline form row-for-row")
  }

  test("int8 quantization: saturation, zero vector, negative half-up") {
    val df = Seq(
      (1L, Array(1.0f, -1.0f, 0.5f)),     // max|v|=1 -> scale 127: ±127, 64 (63.5 rounds up)
      (2L, Array(0.0f, 0.0f, 0.0f)),      // zero vector -> all 0, scale 0
      (3L, Array(2.0f, -0.5f)))           // scale 63.5: 127, floor(-31.75+0.5)=-32
      .toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(df)
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Int](1).toList, r.getDouble(2)))).toMap
    assert(out(1L)._1 == List(127, -127, 64))
    assert(out(1L)._2 == 127.0)
    assert(out(2L) == ((List(0, 0, 0), 0.0)))
    assert(out(3L)._1 == List(127, -32))
    // round-trip error bound: |v - q/scale| <= 0.5/scale per element
    val v = Array(1.0, -1.0, 0.5); val q = out(1L)._1; val s = out(1L)._2
    v.indices.foreach(i => assert(math.abs(v(i) - q(i) / s) <= 0.5 / s + 1e-12))
  }

  test("semiHardTriplets equals the plain-Scala reference on real embeddings") {
    val res = Similarity.semiHardTriplets(emb, emb.where(col("vec_id") < 8), k = 4)
      .as[(Long, Long, Int, Long)].collect().toSet
    val all = emb
      .select(col("vec_id"), col("embedding").cast("array<double>"), col("label"))
      .as[(Long, Array[Double], Int)].collect()
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var d = 0.0; var na = 0.0; var nb = 0.0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = (for {
      (aid, av, al) <- all.toSeq if aid < 8
      cands = all.filter(_._1 != aid).map { case (cid, cv, cl) => (cid, cl, cos(av, cv)) }
      poss = cands.filter(_._2 == al) if poss.nonEmpty
      (pid, _, pcos) = poss.maxBy(c => (c._3, -c._1))
      ((nid, _, _), i) <- cands.filter(c => c._2 != al && c._3 < pcos)
        .sortBy(c => (-c._3, c._1)).take(4).zipWithIndex
    } yield (aid, pid, i + 1, nid)).toSet
    assert(expected.nonEmpty && res == expected)
  }

  test("semiHardTriplets: every row honors the semi-hard contract") {
    val out = Similarity.semiHardTriplets(emb, emb.where(col("vec_id") < 8), k = 4)
    val lab = emb.select(col("vec_id"), col("label"))
    val bad = out
      .join(lab.withColumnRenamed("vec_id", "anchor_id").withColumnRenamed("label", "al"), "anchor_id")
      .join(lab.withColumnRenamed("vec_id", "pos_id").withColumnRenamed("label", "pl"), "pos_id")
      .join(lab.withColumnRenamed("vec_id", "neg_id").withColumnRenamed("label", "nl"), "neg_id")
      .where(col("al") =!= col("pl") || col("al") === col("nl"))
    assert(bad.count() == 0)
    // ranks contiguous from 1 per anchor
    val ranks = out.groupBy("anchor_id")
      .agg(min(col("rank")).as("mn"), max(col("rank")).as("mx"), count(lit(1)).as("n"))
      .where(col("mn") =!= 1 || col("mx") =!= col("n"))
    assert(ranks.count() == 0)
  }

  test("PCA recovers a planted dominant axis; projection matches eigenvalues") {
    val rnd = new scala.util.Random(11)
    val d = 12
    val rows = Seq.tabulate(300) { i =>
      val a = rnd.nextGaussian() * 5.0
      val v = Array.tabulate(d) { j =>
        (if (j == 3) a else 0.0) + 0.1 * rnd.nextGaussian() + (if (j == 5) 2.0 else 0.0)
      }
      (i.toLong, v.map(_.toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val m = Similarity.pcaTrain(df, nComponents = 3)
    // dominant axis is e_3 (variance 25 vs noise 0.01); the constant
    // offset on dim 5 is mean-centered away
    assert(math.abs(m.components(0)(3)) > 0.99,
      s"component0 = ${m.components(0).mkString(",")}")
    assert(m.eigenvalues(0) > 10 * m.eigenvalues(1))
    for (i <- 0 until 3; j <- i until 3) {
      val g = m.components(i).zip(m.components(j)).map { case (x, y) => x * y }.sum
      assert(math.abs(g - (if (i == j) 1.0 else 0.0)) < 1e-8)
    }
    assert(m.eigenvalues.sum <= m.totalVar * (1 + 1e-9))
    // distributed projection re-measures the model: var(pc_i) = λ_i,
    // mean(pc_i) = 0, whitened variance = 1
    val pc = Similarity.pcaProject(df, m)
    val w = Similarity.pcaProject(df, m, whiten = true, outCol = "wc")
    val st = pc.agg(
      var_pop(element_at(col("pc"), 1)).as("v0"),
      avg(element_at(col("pc"), 1)).as("m0")).collect().head
    assert(math.abs(st.getDouble(0) - m.eigenvalues(0)) < 1e-6 * m.totalVar)
    assert(math.abs(st.getDouble(1)) < 1e-9 * math.sqrt(m.totalVar))
    val wv = w.agg(var_pop(element_at(col("wc"), 1))).collect().head.getDouble(0)
    assert(math.abs(wv - 1.0) < 1e-6)
  }

  test("PCA: block-decoupled covariance — start vector still finds the principal axis") {
    // cov = [[1,1],[1,1]] ⊕ [1.5] ⊕ [0]: dominant eigenvector (e0+e1)/√2
    // with λ=2, but the LARGEST DIAGONAL entry is the decoupled e2 axis
    // (1.5) — a pure e_argmax start is exactly stationary on e2 (zero
    // coupling, zero fp leakage) and would return the λ=1.5 axis as
    // "component 0"; the dense ramp in the start vector guarantees
    // overlap with the true principal axis
    val s = math.sqrt(2.0).toFloat; val t = math.sqrt(3.0).toFloat
    val df = Seq(
      (1L, Array(s, s, 0f, 0f)), (2L, Array(-s, -s, 0f, 0f)),
      (3L, Array(0f, 0f, t, 0f)), (4L, Array(0f, 0f, -t, 0f)))
      .toDF("vec_id", "embedding")
    val m = Similarity.pcaTrain(df, nComponents = 2)
    assert(math.abs(m.eigenvalues(0) - 2.0) < 1e-3, m.eigenvalues.mkString(","))
    assert(math.abs(math.abs(m.components(0)(0)) - math.sqrt(0.5)) < 1e-3 &&
      math.abs(m.components(0)(2)) < 1e-3,
      s"component0 = ${m.components(0).mkString(",")}")
    assert(math.abs(m.eigenvalues(1) - 1.5) < 1e-3)
  }

  test("PCA train rejects mixed-dimension corpora loudly") {
    val bad = Seq((1L, Array(1f, 2f, 3f)), (2L, Array(1f, 2f, 3f, 4f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](Similarity.pcaTrain(bad, 1))
    assert(e.getMessage.contains("mixed embedding dimensions"))
  }

  test("PCA-reduced shortlist + exact re-rank recovers a planted near-dup at rank 1") {
    val rnd = new scala.util.Random(31)
    val d = 20
    // variance concentrated in the first 4 dims — the regime PCA serves
    val base = Seq.tabulate(80) { i =>
      (i.toLong, Array.tabulate(d)(j =>
        (if (j < 4) 3.0 * rnd.nextGaussian() else 0.05 * rnd.nextGaussian()).toFloat))
    }
    val planted = (999L, base(7)._2.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    val df = (base :+ planted).toDF("vec_id", "embedding")
    val model = Similarity.pcaTrain(df, nComponents = 4)
    val red = Similarity.pcaProject(df, model)
      .select(col("vec_id"), col("pc").as("embedding"))
    val qIds = col("vec_id") === 7L
    val shortlist = Similarity.bruteForceTopK(red, red.where(qIds), k = 8)
    val top = Similarity.rerankExact(df, df.where(qIds), shortlist, k = 1)
      .as[(Long, Int, Long)].collect()
    assert(top.sameElements(Array((7L, 1, 999L))), top.mkString(","))
  }

  test("outlierScores: planted direction outlier ranks first; integer reference ≡") {
    val rnd = new scala.util.Random(17)
    val rows = Seq.tabulate(40) { i =>
      val base = Array.tabulate(8)(j => (if (j == 0) 1.0 else 0.02 * rnd.nextGaussian()).toFloat)
      (i.toLong, base, 0)
    } :+ ((99L, Array.tabulate(8)(j => (if (j == 0) -1.0 else 0.01).toFloat), 0))
    val df = rows.toDF("vec_id", "embedding", "label")
    val got = Similarity.outlierScores(df, k = 3)
      .select("label", "vec_id", "dev", "rank")
      .as[(Int, Long, Long, Int)].collect()
    assert(got.find(_._4 == 1).map(_._2).contains(99L), got.mkString(","))
    // plain-Scala integer reference (same quantization formula)
    def quant(v: Array[Float]): Array[Long] = {
      val d = v.map(_.toDouble)
      val m = d.map(math.abs).max
      if (m == 0) Array.fill(v.length)(0L)
      else d.map(x => math.floor(x * (127.0 / m) + 0.5).toLong)
    }
    val qs = rows.map { case (id, v, _) => id -> quant(v) }
    val n = qs.size.toLong
    val sums = (0 until 8).map(i => qs.map(_._2(i)).sum)
    val devs = qs.map { case (id, q) =>
      id -> (0 until 8).map(i => { val d = q(i) * n - sums(i); d * d }).sum
    }
    val expected = devs.sortBy { case (id, dev) => (-dev, id) }.take(3)
      .zipWithIndex.map { case ((id, dev), r) => (0, id, dev, r + 1) }
    assert(got.sortBy(_._4).toSeq == expected)
  }

  test("PCA projection reduces reconstruction error vs mean-only baseline") {
    val m = Similarity.pcaTrain(emb, nComponents = 8)
    val meanLit = typedLit(m.mean.toSeq)
    // ‖x − μ − Σ pcᵢ·cᵢ‖² averaged over the corpus must be the residual
    // variance: totalVar − Σλᵢ (Pythagoras under an orthonormal basis)
    val comps = m.components.map(c => typedLit(c.toSeq))
    val recon = Similarity.pcaProject(emb, m)
      .select(zip_with(col("embedding").cast("array<double>"), meanLit, _ - _).as("x"),
        col("pc"))
      .select((0 until m.dim).map { j =>
        (col("x")(j) - comps.zipWithIndex.map { case (c, i) =>
          col("pc")(i) * c(j) }.reduce(_ + _)).as(s"r$j")
      }: _*)
      .select(((0 until m.dim).map(j => col(s"r$j") * col(s"r$j")).reduce(_ + _)).as("e2"))
      .agg(avg(col("e2"))).collect().head.getDouble(0)
    val residual = m.totalVar - m.eigenvalues.sum
    assert(math.abs(recon - residual) < 1e-6 * m.totalVar,
      s"recon=$recon residual=$residual")
    assert(recon < m.totalVar, "PCA basis must explain some variance")
  }

  /** The HOF composition the PQ encode kernel must match bit-for-bit
    * (same strict-< first-minimum, same sequential summation) — the
    * equivalence reference.
    */
  private def pqCodesHof(nv: Column, model: Similarity.PqModel): Column =
    array(model.codebooks.zipWithIndex.map { case (cb, s) =>
      argminCode(slice(nv, lit(s * model.subDim + 1), lit(model.subDim)), cb)
    }: _*)

  /** Nearest-centroid code for one subvector against one subspace's
    * codebook literal: a fold over the k centroids carrying (best d², j).
    * Strict `<` keeps the FIRST minimum — ties break to the lowest code.
    */
  private def argminCode(sv: Column, codebook: Vector[Array[Double]]): Column = {
    val tbl = typedlit(codebook.map(_.toSeq))
    aggregate(
      sequence(lit(0), lit(codebook.length - 1)),
      struct(lit(Double.MaxValue).as("d"), lit(0).as("j")),
      (acc, j) => {
        val d = Similarity.dist2(sv, element_at(tbl, j + 1))
        when(d < acc.getField("d"), struct(d.as("d"), j.cast("int").as("j")))
          .otherwise(acc)
      },
      acc => acc.getField("j"))
  }
}
