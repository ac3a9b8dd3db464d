package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Planted-duplicate tests: each dedup operator must find a constructed
  * near-dup pair and must NOT pair unrelated docs. */
class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
    "lambda mu nu xi omicron pi rho sigma tau upsilon"
  val nearDup = base.replace("sigma", "sigmoid") // one-token edit
  val unrelated = "one two three four five six seven eight nine ten " +
    "eleven twelve thirteen fourteen fifteen sixteen"

  lazy val docs = Seq(
    (0L, base), (1L, base), (2L, nearDup), (3L, unrelated))
    .toDF("doc_id", "text")

  test("exact dedup groups identical texts under min-id survivor") {
    val r = docs.groupBy("text")
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n"))
      .collect().map(x => x.getLong(1) -> x.getLong(2)).toMap
    assert(r(0L) == 2) // doc 0 and 1 merged
    assert(r(2L) == 1 && r(3L) == 1)
  }

  test("exactDropDuplicates keeps one row per key (arbitrary survivor)") {
    val out = Dedup.exactDropDuplicates(docs, Seq("text"))
    assert(out.count() == 3) // base (0/1 merged), nearDup, unrelated
    assert(out.select("text").distinct().count() == 3)
  }

  test("3-gram shingles of a 20-token doc number 18") {
    val n = docs.filter(col("doc_id") === 0)
      .selectExpr(s"size(${Dedup.shingleExpr("text")}) AS n")
      .collect()(0).getInt(0)
    assert(n == 18)
  }

  test("ngram-jaccard pairs exact dup at 1.0 and near-dup high, unrelated absent") {
    val sh = docs.select(col("doc_id"), explode(expr(Dedup.shingleExpr("text"))).as("sh")).distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col("doc_id").as("a_id"), col("sh"))
    val b = sh.select(col("doc_id").as("b_id"), col("sh"))
    val inter = a.join(b, Seq("sh")).filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_inter"))
    val sa = sizes.select(col("doc_id").as("a_id"), col("n_sh").as("n_a"))
    val sb = sizes.select(col("doc_id").as("b_id"), col("n_sh").as("n_b"))
    val jac = inter.join(sa, "a_id").join(sb, "b_id")
      .withColumn("j", col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")))
      .collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) ->
        r.getAs[Double]("j")).toMap
    assert(jac((0L, 1L)) == 1.0)
    assert(jac((0L, 2L)) > 0.5 && jac((0L, 2L)) < 1.0)
    assert(!jac.contains((0L, 3L)) && !jac.contains((1L, 3L)))
  }

  test("simhash: identical docs distance 0, near-dup close, unrelated far") {
    val sh = Dedup.simhash(docs, "xxhash64(tok)", 64).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(1L)) == 0)
    assert(ham(sh(0L), sh(2L)) < 16)
    assert(ham(sh(0L), sh(3L)) > ham(sh(0L), sh(2L)))
  }

  test("native minhash finds exact and near dups with correct jaccard values") {
    val pairs = Dedup.minhashNativePairs(docs, 0.95).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) ->
        r.getAs[Double]("jaccard_dist")).toMap
    // identical docs always collide on every band; distance exactly 0
    assert(pairs((0L, 1L)) == 0.0, pairs.mkString(","))
    // near-dup must be surfaced (deterministic with these seeds/data) —
    // an unconditional assert, so a banding regression can't pass silently
    assert(pairs.contains((0L, 2L)), s"near-dup pair missing: $pairs")
    val dj = pairs((0L, 2L))
    assert(dj > 0.0 && dj < 0.5, s"jaccard_dist=$dj")
    // unrelated docs share no shingle: never a candidate with dist < 0.95
    assert(!pairs.contains((0L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("connectedComponents labels a chain and keeps separate groups apart") {
    import spark.implicits._
    // chain 1-2, 2-3 (one component) and isolated pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val comp = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L)
    assert(comp(10L) == 10L && comp(11L) == 10L)
  }

  test("connectedComponents contracts a long chain (multi-round star contraction)") {
    import spark.implicits._
    // a 40-node path has diameter 39: naive propagation would need 39
    // rounds; star contraction needs O(log n) and must still be exact
    val pairs = (0L until 39L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val comp = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("component"))
    assert(comp.length == 40)
    assert(comp.forall(_._2 == 0L), comp.mkString(","))
  }

  test("connectedComponents matches driver union-find on random graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 30 + trial * 10
      val edges = Seq.fill(n)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // driver-side union-find ground truth
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val truth = nodes.map(x => x -> find(x)).toMap
      // min-reachable-id labels: re-root each union-find class at its min
      val minOfClass = truth.groupBy(_._2).map { case (r, m) => r -> m.keys.min }
      val expected = truth.map { case (x, r) => x -> minOfClass(r) }
      val got = Dedup.connectedComponents(edges.toDF("a_id", "b_id")).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
      assert(got == expected, s"trial $trial: $got vs $expected")
    }
  }

  test("connectedComponents plan depth stays bounded as rounds grow (checkpoint discipline)") {
    import spark.implicits._
    def depth(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
      if (p.children.isEmpty) 1 else 1 + p.children.map(depth).max
    def chain(n: Long) =
      (0L until n).map(i => (i, i + 1)).toDF("a_id", "b_id")
    // a 10× longer chain needs more contraction rounds, but localCheckpoint
    // truncates lineage each round — the returned plan must not deepen
    val short = depth(Dedup.connectedComponents(chain(4))
      .queryExecution.optimizedPlan)
    val long = depth(Dedup.connectedComponents(chain(40))
      .queryExecution.optimizedPlan)
    assert(long <= short + 1, s"plan depth grew with rounds: $short -> $long")
  }

  /** (a_id, b_id) -> hamming for every signature pair within `maxHamming`. */
  private def bruteForce(sigs: org.apache.spark.sql.DataFrame,
      maxHamming: Int): Map[(Long, Long), Int] = {
    val sh = sigs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (for {
      a <- sh.keys; b <- sh.keys if a < b
      h = java.lang.Long.bitCount(sh(a) ^ sh(b)) if h <= maxHamming
    } yield (a, b) -> h).toMap
  }

  private def pairMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) ->
      r.getAs[Int]("hamming")).toMap

  test("multi-probe simhash equals brute-force all-pairs at hamming ≤ 7 (sf0.001 corpus)") {
    // the d03 contract (restated r11): output EXACTLY the all-pairs
    // result at radius 7, via a (band, value) equi-join — multi-index
    // pigeonhole: ≤ 7 errors over 4 bands leave some band with ≤ 1,
    // and probe radius 1 enumerates every such band value
    val corpus = graft.core.Tables.documents(spark, TestSpark.sf0001)
    val sigs = Dedup.simhash(corpus, "xxhash64(tok)", 64)
    val exact = bruteForce(sigs, 7)
    assert(pairMap(Dedup.multiProbePairs(sigs, 16, 4, 7, 1)) == exact)
    // the fixture plants exact clones, so the radius-7 family is
    // non-trivial — an empty intersection would vacuously pass
    assert(exact.nonEmpty)
  }

  test("banded simhash at hamming ≤ 3 equals all-pairs exactly (pigeonhole recall)") {
    // banding is multi-probe at probe radius 0: 3 differing bits can
    // dirty at most 3 of the 4 16-bit bands, so one band always collides
    val sigs = Dedup.simhash(docs, "xxhash64(tok)", 64)
    val exact = bruteForce(sigs, 3)
    assert(pairMap(Dedup.multiProbePairs(sigs, 16, 4, 3, 0)) == exact)
    assert(exact.nonEmpty)
  }

  test("d21 multi-probe over md5 signatures (4×15-bit bands) is exact at ≤ 7") {
    val sigs = Dedup.simhash(docs, Dedup.sparkMd5Int60("tok"), 60)
    val mp = pairMap(Dedup.multiProbePairs(sigs, 15, 4, 7, 1))
    assert(mp == bruteForce(sigs, 7))
    assert(mp.contains((0L, 1L)) && mp((0L, 1L)) == 0) // identical docs
  }

  test("multiProbePairs rejects a hamming radius its probes cannot cover") {
    val sigs = Dedup.simhash(docs, "xxhash64(tok)", 64)
    // radius 0 over 4 bands: 4 differing bits can dirty every band
    intercept[IllegalArgumentException](Dedup.multiProbePairs(sigs, 16, 4, 4, 0))
    intercept[IllegalArgumentException](Dedup.multiProbePairs(sigs, 16, 4, 8, 1))
  }

  test("md5 minhash (d10): identical docs at jaccard 1.0, unrelated absent") {
    val pairs = Dedup.minhashMd5Pairs(docs).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) ->
        r.getAs[Double]("jaccard")).toMap
    // identical docs share every signature, collide on every band
    assert(pairs((0L, 1L)) == 1.0, pairs.mkString(","))
    // unrelated docs share no shingle: a chance band collision is
    // impossible (bands are min-signature slices over disjoint sets with
    // md5 values — equality would need 4 simultaneous 60-bit collisions)
    assert(!pairs.contains((0L, 3L)) && !pairs.contains((2L, 3L)))
    // the near-dup (18/20 shingles ≈ jaccard 0.64) is surfaced when its
    // bands collide; when present its jaccard must be the exact ratio
    pairs.get((0L, 2L)).foreach { j =>
      assert(j > 0.5 && j < 1.0, s"jaccard=$j")
    }
  }

  test("md5 hash family is deterministic across invocations (no seed state)") {
    val a = Dedup.minhashMd5Pairs(docs).collect().toSeq.sortBy(_.toString)
    val b = Dedup.minhashMd5Pairs(docs).collect().toSeq.sortBy(_.toString)
    assert(a == b)
  }

  test("md5 simhash (d11): identical docs at hamming 0; equals all-pairs at radius 3") {
    val sigs = Dedup.simhash(docs, Dedup.sparkMd5Int60("tok"), 60)
    val sh = sigs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identical docs: identical signature
    assert(sh(0L) == sh(1L))
    // the registered d11 path — probe radius 0 over 4×15-bit bands — vs
    // exact all-pairs at the pigeonhole-exact radius: 3 flipped bits can
    // dirty at most 3 of the 4 bands, so one band must collide
    val banded = pairMap(Dedup.multiProbePairs(sigs, 15, 4, 3, 0))
    assert(banded == bruteForce(sigs, 3))
    assert(banded.contains((0L, 1L)))
  }

  test("d15 span removal: keeper doc intact, later docs cut, full-boilerplate doc empties") {
    val boiler = (1 to 40).map(i => s"b$i").mkString(" ")
    val tailA = (1 to 10).map(i => s"a$i").mkString(" ")
    val tailB = (1 to 10).map(i => s"x$i").mkString(" ")
    val unique = (1 to 45).map(i => s"u$i").mkString(" ")
    val docs = Seq(
      (1L, s"$boiler $tailA"), // first occurrence: keeps the span
      (2L, s"$boiler $tailB"), // later occurrence: span cut, tail kept
      (3L, unique), // untouched
      (4L, boiler)) // fully boilerplate: survives as an empty row
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("d15").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.spanRemoval.build(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3), r.getString(4))))
      .toMap
    assert(out(1L) == ((50L, 0L, s"$boiler $tailA")), out(1L).toString)
    assert(out(2L) == ((50L, 40L, tailB)), out(2L).toString)
    assert(out(3L) == ((45L, 0L, unique)), out(3L).toString)
    assert(out(4L) == ((40L, 40L, "")), out(4L).toString)
  }

  test("d12 repeated spans: shared boilerplate prefix detected, unrelated not") {
    val boiler = (1 to 40).map(i => s"tok$i").mkString(" ")
    val spanDocs = Seq(
      (0L, boiler + " alpha beta gamma delta"),
      (1L, boiler + " one two three four"),
      (2L, "totally different words with no overlap at all here now"))
      .toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(spanDocs).collect()
    // the shared 40-token prefix yields 40-32+1 = 9 shared windows
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_docs") == 2L)
      assert(r.getAs[Long]("first_doc") == 0L)
    }
    // UNALIGNED spans must be caught too (stride 1 recall guarantee):
    // doc 1 shifts the shared block by a one-token prefix
    val shifted = Seq(
      (0L, boiler + " alpha beta gamma delta"),
      (1L, "PREFIX " + boiler + " one two three"),
      (2L, "totally different words with no overlap at all here now"))
      .toDF("doc_id", "text")
    val outShifted = Dedup.repeatedSpans(shifted).collect()
    assert(outShifted.nonEmpty, "offset-shifted shared span missed")
    assert(outShifted.forall(_.getAs[Long]("n_docs") == 2L))
    // short doc (< window) falls back to one whole-text span; identical
    // short docs are still caught
    val shortDocs = Seq((0L, "tiny doc"), (1L, "tiny doc"), (2L, "other"))
      .toDF("doc_id", "text")
    val s2 = Dedup.repeatedSpans(shortDocs).collect()
    assert(s2.length == 1 && s2.head.getAs[Long]("n_docs") == 2L)
  }

  test("embedding cosine: planted parallel vectors pair up") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f, 1.0f, 0.0f)),
      (1L, Array(0.99f, 0.01f, 1.0f, 0.0f)),
      (2L, Array(-1.0f, 0.5f, 0.0f, 0.7f))).toDF("vec_id", "embedding")
    e.createOrReplaceTempView("tmp_emb")
    val a = e.select(col("vec_id").as("a_id"),
      col("embedding").cast("array<double>").as("a_emb"))
    val b = e.select(col("vec_id").as("b_id"),
      col("embedding").cast("array<double>").as("b_emb"))
    val cos = a.join(b, col("a_id") < col("b_id"))
      .withColumn("c", expr(s"${Dedup.dotExpr("a_emb", "b_emb")} / " +
        s"(sqrt(${Dedup.norm2Expr("a_emb")}) * sqrt(${Dedup.norm2Expr("b_emb")}))"))
      .collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) ->
        r.getAs[Double]("c")).toMap
    assert(cos((0L, 1L)) > 0.99)
    assert(cos((0L, 2L)) < 0.1)
  }

  test("d13 semantic dedup: planted near-centroid vector removed, cluster assignment by max dot") {
    graft.expr.ArrayDot.register(spark)
    // 2 pinned centroids (ids 0, 1); id 2 nearly parallel to centroid 0
    // (above theta -> removed into 0's component); ids 3/4 assign to
    // their nearer centroid but stay below theta -> kept
    val eps = 1e-3
    val n2 = math.sqrt(1.0 + eps * eps)
    val u = Seq(
      (0L, Array(1.0, 0.0)),
      (1L, Array(0.0, 1.0)),
      (2L, Array(1.0 / n2, eps / n2)),
      (3L, Array(0.8, 0.6)),
      (4L, Array(0.6, 0.8))).toDF("id", "u")
    val out = Dedup.semanticDedupLabels(u, kCentroids = 2, theta = 0.9)
      .collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("cluster"), r.getAs[Long]("component"),
          r.getAs[Int]("kept"))))
      .toMap
    assert(out(0L) == ((0L, 0L, 1))) // centroid, survives
    assert(out(2L) == ((0L, 0L, 0))) // semantic dup of 0 -> removed
    assert(out(3L) == ((0L, 3L, 1))) // cluster 0 (dot .8 > .6), kept
    assert(out(4L) == ((1L, 4L, 1))) // cluster 1, kept
    assert(out(1L) == ((1L, 1L, 1)))
  }

  test("d14 incremental admission: batch dup matched to min corpus id, novel batch row admitted") {
    graft.expr.ArrayDot.register(spark)
    val s2 = math.sqrt(2.0)
    val u = Seq(
      (0L, Array(1.0, 0.0)), // centroid/corpus
      (1L, Array(0.0, 1.0)), // centroid/corpus
      (2L, Array(0.8, 0.6)), // corpus, cluster 0
      (3L, Array(0.6, 0.8)), // corpus, cluster 1
      (4L, Array(0.9999, 0.0141)), // batch: near corpus 0 -> dup
      (9L, Array(-1.0 / s2, 1.0 / s2))) // batch: matches nothing -> new
      .toDF("id", "u")
    val out = Dedup.incrementalSemanticAdmission(u, kCentroids = 2, theta = 0.9)
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("cluster"), r.getAs[Long]("matched_id"),
          r.getAs[Int]("is_new"))))
      .toMap
    assert(out.keySet == Set(4L, 9L)) // corpus rows are not re-emitted
    assert(out(4L) == ((0L, 0L, 0))) // dup of corpus vector 0
    assert(out(9L) == ((1L, -1L, 1))) // admitted as new
  }

  test("d14 on the fixture: every match is a d05-grade cosine pair with a corpus row") {
    graft.expr.ArrayDot.register(spark)
    val r = Dedup.incrementalSemantic.build(spark, TestSpark.sf0001).collect()
    // every emitted row is a batch row; matched ids are corpus-side
    assert(r.forall(_.getAs[Long]("vec_id") % 5 == 4))
    r.filter(_.getAs[Int]("is_new") == 0).foreach { row =>
      assert(row.getAs[Long]("matched_id") % 5 != 4)
      assert(row.getAs[Long]("matched_id") >= 0)
    }
    // consistency: is_new == 1 iff matched_id == -1
    assert(r.forall(row =>
      (row.getAs[Int]("is_new") == 1) == (row.getAs[Long]("matched_id") == -1L)))
  }

  test("d13 components never straddle coarse clusters and survivors are component minima") {
    graft.expr.ArrayDot.register(spark)
    val r = Dedup.semanticDedup.build(spark, TestSpark.sf0001).collect()
    val byComponent = r.groupBy(_.getAs[Long]("component"))
    byComponent.foreach { case (comp, rows) =>
      // one coarse cluster per component (pairs only form within one)
      assert(rows.map(_.getAs[Long]("cluster")).distinct.length == 1)
      // exactly the min id is kept
      assert(rows.filter(_.getAs[Int]("kept") == 1)
        .map(_.getAs[Long]("vec_id")).toSeq == Seq(comp))
      assert(rows.map(_.getAs[Long]("vec_id")).min == comp)
    }
  }

  test("d16 containment flags a quoted doc that symmetric Jaccard misses") {
    import spark.implicits._
    // doc 1 (30 tokens) is quoted WHOLE at the head of doc 2 (230
    // tokens): every doc-1 shingle appears in doc 2 → containment 1.0,
    // while Jaccard ≈ 28/230 sits far below d04's 0.20 threshold.
    // doc 3 is unrelated and must pair with nobody.
    val quoted = (1 to 30).map(i => s"w$i").mkString(" ")
    val long = quoted + " " + (1 to 200).map(i => s"x$i").mkString(" ")
    val other = (1 to 50).map(i => s"z$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("d16").toString
    Seq((1L, quoted), (2L, long), (3L, other)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val cont = Dedup.containmentPairs.build(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getAs[Double]("cont_a_in_b"), r.getAs[Double]("cont_b_in_a"))))
      .toMap
    assert(cont.keySet == Set((1L, 2L)), s"pairs: ${cont.keySet}")
    assert(cont((1L, 2L))._1 == 1.0, s"quoted side must be fully contained: $cont")
    assert(cont((1L, 2L))._2 < 0.2, s"long side is mostly novel: $cont")
    val jac = Dedup.ngramJaccard.build(spark, tmp).collect()
    assert(jac.isEmpty,
      s"Jaccard at 0.20 should miss the quote: ${jac.mkString(",")}")
  }
}
