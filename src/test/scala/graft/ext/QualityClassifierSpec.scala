package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** x29b: the prototype quality classifier, trained on the md5-half,
  * must reproduce the weak gate on the WHOLE of a separable planted
  * corpus, held-out half included (clean docs share stopword-rich
  * text, junk docs share junk vocabulary). */
class QualityClassifierSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("x29b prototype classifier reproduces the gate on the whole separable corpus") {
    val stopRich = (i: Long) =>
      s"the quick brown fox and the lazy dog of doc $i is a fine long " +
        "document with many of the usual common words that a clean " +
        "page of text would contain in practice"
    val junk = (i: Long) => s"zzz$i qqq$i junkmarker"
    val docs = ((1L to 30L).map(i => (i, "en", stopRich(i))) ++
      (31L to 60L).map(i => (i, "xx", junk(i))))
      .toDF("doc_id", "lang", "text")
    val tmp = java.nio.file.Files.createTempDirectory("x29b").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Curation.qualityPrototype.build(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    assert(out.length == 60)
    assert(out.forall { case (id, weak, _, _) =>
      weak == (if (id <= 30L) 1L else 0L) })
    // integer prototype weights are exact: clean docs score positive
    // (shared stop-rich vocabulary), junk docs score non-positive
    // (per-doc-unique junk tokens are unseen → weight 0; the shared
    // junk marker is negative) — TRAIN AND HOLDOUT alike must agree
    val disagree = out.filter(_._4 == 0L)
    assert(disagree.isEmpty,
      s"prototype disagrees with the gate on: ${disagree.mkString(", ")}")
  }
}
