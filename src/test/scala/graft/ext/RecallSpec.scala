package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Quantified recall of every approximate path against its exact
  * baseline at sf0.001. All inputs and hash seeds are fixed, so these
  * are deterministic measurements, asserted with a small slack below
  * the observed value. */
class RecallSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf0001

  test("pinned-centroid IVF (s03b) recalls >= 60% of exact cosine top-5") {
    val exact = Similarity.cosineTopK.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.annIvfPinned.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    // pinned-data centroids are a worse quantizer than KMeans (no
    // Lloyd refinement), but with nprobe=4/16 the probe set still
    // covers most neighbors on these fixtures
    assert(recall >= 0.60, s"pinned ivf recall=$recall")
    // every reported cosine must agree with the exact scorer where the
    // pair appears in both (same fold -> identical doubles)
    val exactScores = Similarity.cosineTopK.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Similarity.annIvfPinned.build(spark, sf).collect().foreach { r =>
      exactScores.get((r.getLong(0), r.getLong(1))).foreach { es =>
        assert(es == r.getDouble(2), s"score drift on ${(r.getLong(0), r.getLong(1))}")
      }
    }
  }

  test("PQ/ADC top-5 (s06) recalls a floor of exact cosine top-5; scores bounded") {
    val exact = Similarity.cosineTopK.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = Similarity.annPqAdc.build(spark, sf).collect()
    val pq = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    info(s"pq recall=$recall")
    // 4x16 PQ of structureless random 64-dim vectors is MUCH lossier
    // than int8 (it keeps 4 bytes of 256) — the floor documents that
    // the index still beats chance (top-5 of ~500 ≈ 1% by luck), not
    // that it rivals s05. Observed 0.20 with these fixtures.
    assert(recall >= 0.15, s"pq recall=$recall")
    // ADC approximates a cosine of unit vectors: |approx| stays near 1
    assert(rows.forall(r => math.abs(r.getAs[Double]("approx_cos")) <= 1.5))
  }

  test("int8-quantized top-5 (s05) recalls >= 90% of exact cosine top-5") {
    val exact = Similarity.cosineTopK.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val q = Similarity.annInt8.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & q).size.toDouble / exact.size
    // 8-bit quantization of unit vectors perturbs cosines by ~1/127 —
    // only near-ties can swap rank; observed 0.96 with these fixtures
    assert(recall >= 0.90, s"int8 recall=$recall")
    // quantized scores bound the true cosine error: |q/16129 - cos| small
    val rows = Similarity.annInt8.build(spark, sf).collect()
    assert(rows.forall { r =>
      val approx = r.getAs[Double]("approx_cos")
      approx >= -1.05 && approx <= 1.05
    })
  }

  test("s08 recall query equals the driver-side set intersection it registers") {
    val exact = Similarity.cosineTopK.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ivf = Similarity.annIvfPinned.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = exact.groupBy(_._1).map { case (q, pairs) =>
      q -> pairs.count(ivf.contains).toLong
    }
    val rows = Similarity.annRecall.build(spark, sf).collect()
    val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"got=$got want=$want")
    rows.foreach { r =>
      assert(r.getDouble(2) == r.getLong(1) / 5.0)
      assert(r.getLong(1) >= 0L && r.getLong(1) <= 5L)
    }
    assert(rows.length == exact.map(_._1).distinct.length)
  }

  test("native banded MinHash recalls >= 85% of exact jaccard>=0.2 pairs") {
    val exact = Dedup.ngramJaccard.build(spark, sf).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    val native = Dedup.minhashNative.build(spark, sf).collect()
      .filter(_.getAs[Double]("jaccard_dist") <= 0.8)
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    val recall = (exact & native).size.toDouble / exact.size
    assert(recall >= 0.85, s"native minhash recall=$recall") // observed 0.93
  }

  test("hyperplane ANN (s04): candidates nonempty, cosine exact, d05 near-dups recalled") {
    val rows = Similarity.annHyperplane.build(spark, sf).collect()
    assert(rows.nonEmpty)
    // planted near-identical embedding pairs (d05, cos >= 0.995 among
    // the query set) must land in the same 8-bit bucket — near-parallel
    // vectors only split when a hyperplane cuts their tiny angle
    val d05 = Dedup.embeddingCosine.build(spark, sf).collect()
      .filter(r => r.getAs[Double]("cos_sim") >= 0.995)
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
      .filter { case (a, b) => a < 10 || b < 10 }
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recalled = d05.count { case (a, b) =>
      got.contains((a, b)) || got.contains((b, a)) }
    assert(d05.isEmpty || recalled.toDouble / d05.size >= 0.9,
      s"near-dup recall ${recalled}/${d05.size}")
  }

  test("spark.ml MinHash recalls 100% of exact jaccard>=0.2 pairs here") {
    val exact = Dedup.ngramJaccard.build(spark, sf).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    val ml = Dedup.minhash.build(spark, sf).collect()
      .filter(_.getAs[Double]("jaccard_dist") <= 0.8)
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert((exact & ml).size == exact.size,
      s"missing: ${exact -- ml}")
  }
}
