package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-off larger-scale probe data (VERDICT r4 §next #7): upsample an
  * existing sf directory N× by unioning key-shifted copies, so the most
  * expensive queries can be re-timed at a scale the driver does not
  * generate (the committed numbers live in BASELINE.md §sf0.5 probe).
  *
  * Copy k shifts every join/entity key by k·10⁷ — far above any sf0.1
  * key range so copies never collide, and far BELOW Graph.SuppOffset
  * (10⁹), so the shifted part/supplier key spaces stay disjoint after
  * the graph queries' node-id split (an offset of 10⁹ would alias
  * copy-k suppliers onto copy-(k+1) parts). The part and supplier
  * DIMENSION keys shift with the lineitem FKs referencing them, so
  * dimension joins hold in every copy. Document text is perturbed by
  * stripping trailing `q`s from every token (in EVERY copy, k=0
  * included) and then suffixing copy k's tokens with `repeat('q', k)`
  * — an ALPHA-ONLY tag (ADVICE r5: a `_k` tag failed every `^[a-z]+$`
  * word gate, so tokenizer-family probes saw 5× scan volume but 1×
  * vocabulary). The strip makes the tag PREFIX-FREE (ADVICE r6:
  * without it, base token `t` in copy k aliases base token `t+"q"` in
  * copy k−1): every emitted token is s·qᵏ with s q-free at the tail,
  * so tokens from different copies are UNCONDITIONALLY distinct — 5×
  * vocabulary, no cross-copy near-dups, not 5× planted duplicate
  * clusters that would turn the dedup benches into an adversarial
  * workload. (Within one copy the strip can merge base tokens that
  * differed only in trailing q's — a negligible vocabulary reduction,
  * and distinctness ACROSS copies is the property the benches need.)
  * `n_chars` is recomputed from the perturbed text.
  *
  * COMPARABILITY (ADVICE r6): the tag scheme changed twice — r5 `_k`
  * (2 chars/token, underscore), r6 `qᵏ` (k chars/token), r7 q-strip +
  * `qᵏ` — so probe rows recorded before round 7 are SUPERSEDED; the
  * BASELINE.md probe tables are re-recorded from this generator.
  *
  * Events keep their timestamps
  * (5× density per window — how a larger deployment actually looks) and
  * shift user/event ids.
  *
  * Usage: runMain graft.ProbeData <srcSfDir> <outDir> [copies=5]
  */
object ProbeData {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val copies = args.lift(2).map(_.toInt).getOrElse(5)
    val off = 10000000L
    val spark = Harness.session()
    // events ts is TIMESTAMP(NANOS); read it as a raw long (the copies
    // are written as plain BIGINT, which Tables.events' DIV-1000
    // conversion handles identically)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def shifted(name: String, keys: Seq[String],
        perturb: (DataFrame, Int) => DataFrame = (df, _) => df): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val parts = (0 until copies).map { k =>
        val shift = keys.foldLeft(base)((df, c) =>
          df.withColumn(c, col(c) + lit(k * off)))
        perturb(shift, k)
      }
      parts.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[probe] $name x$copies -> $out")
    }

    // strip-then-tag runs for k=0 too: prefix-freeness needs every
    // copy's base tokens q-free at the tail, including the untagged one
    shifted("documents", Seq("doc_id"), (df, k) =>
      df.withColumn("text", concat_ws(" ",
          expr(s"""transform(split(text, ' '),
                     w -> concat(regexp_replace(w, 'q+$$', ''), repeat('q', $k)))""")))
        .withColumn("n_chars", length(col("text")).cast("long")))
    shifted("orders", Seq("o_orderkey", "o_custkey"))
    shifted("customer", Seq("c_custkey"))
    shifted("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    shifted("part", Seq("p_partkey"))
    shifted("supplier", Seq("s_suppkey"))
    shifted("events", Seq("event_id", "user_id"))
    shifted("embeddings", Seq("vec_id"))
    // bounded-domain dims copied verbatim (nation/region keys are NOT
    // shifted anywhere, so their joins hold in every copy)
    for (t <- Seq("region", "nation")) {
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[probe] $t copied")
    }
    spark.stop()
  }
}
