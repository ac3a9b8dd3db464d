package graft.stream

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.core.Tables

/** State-size audit for the stream-stream joins (VERDICT r10 ask #8):
  * extends the LATE_DATA.json discipline to the JOIN state stores —
  * the committed, spec-guarded evidence for two claims the Scaladoc
  * makes about the 100 TB streaming path:
  *
  *   1. join state is WATERMARK-BOUNDED: per-micro-batch
  *      `stateOperators.numRowsTotal` tracks the rows inside the
  *      eviction horizon, not the rows ever fed — state falls as the
  *      watermark advances past old event time;
  *   2. what st17's LEFT SEMI actually saves vs st05's inner
  *      enumeration. The audit's honest finding (it REVISED the claim
  *      this repo previously made): state ROW counts are identical
  *      across all four join modes — Spark's symmetric hash join
  *      stores both sides until watermark eviction in every mode, a
  *      semi-matched error is flagged, not dropped — and the semi
  *      savings are state BYTES (narrower click-side schema) and
  *      OUTPUT cardinality (at most one row per error vs the inner
  *      enumeration of every matching click).
  *
  * Four variants run over the SAME deterministic delivery schedule
  * (ts-ordered slices of the events fixture, LateDataAudit's cut
  * without the deferral — this audit is about retention, not drops):
  * st05 inner, st11 left-outer, st15 full-outer, st17 left-semi. Per
  * delivery the audit records rows fed, the state-store row total, the
  * delta of rows evicted ("removed") by the watermark, and the
  * reported watermark.
  *
  * Driver-side data note: as with LateDataAudit, the MemoryStream
  * harness holds the fixture-sized schedule locally; production
  * accounting reads the same numRowsTotal metric from
  * StreamingQueryProgress at O(batches) cost. */
object StateSizeAudit {

  case class BatchState(batch: Int, fed: Long, stateRows: Long,
      stateBytes: Long, removed: Long, outRows: Long, watermark: String)

  case class QueryAudit(name: String, batches: Seq[BatchState]) {
    def peak: Long = if (batches.isEmpty) 0 else batches.map(_.stateRows).max
    def fin: Long = if (batches.isEmpty) 0 else batches.last.stateRows
    def peakBytes: Long =
      if (batches.isEmpty) 0 else batches.map(_.stateBytes).max
    def totalOut: Long = batches.map(_.outRows).sum
  }

  case class Audit(queries: Seq[QueryAudit]) {
    def json: String = {
      val qs = queries.map { qa =>
        val rows = qa.batches.map { b =>
          s"""    {"batch": ${b.batch}, "fed": ${b.fed},""" +
            s""" "state_rows": ${b.stateRows},""" +
            s""" "state_bytes": ${b.stateBytes},""" +
            s""" "removed": ${b.removed}, "out_rows": ${b.outRows},""" +
            s""" "watermark": "${b.watermark}"}"""
        }.mkString(",\n")
        s"""  {"query": "${qa.name}", "peak_state_rows": ${qa.peak},""" +
          s""" "peak_state_bytes": ${qa.peakBytes},""" +
          s""" "final_state_rows": ${qa.fin},""" +
          s""" "total_out_rows": ${qa.totalOut}, "batches": [\n$rows\n  ]}"""
      }.mkString(",\n")
      s"""{
         | "harness": "StateSizeAudit",
         | "fixture": "events.parquet sf0.001",
         | "watermark_delay": "$AuditWatermark",
         | "findings": [
         |  "state_rows is watermark-bounded: every variant retains a bounded fraction of the rows ever fed, and retained rows fall as the watermark passes their event time",
         |  "state ROW COUNTS are IDENTICAL across inner/left-outer/full-outer/left-semi: the symmetric hash join stores both sides until watermark eviction in every mode (a semi-matched error is flagged, not dropped) — the 'semi stores fewer rows' intuition is FALSE in this engine",
         |  "what the semi form actually saves at scale: state BYTES (narrower click-side schema: no enumeration payload columns) and OUTPUT cardinality (at-most-once per error vs the inner enumeration of every matching click)",
         |  "metric quirk: FULL outer reports numRowsRemoved = 0 even as state_rows falls — its evictions surface as the unmatched-row emissions in out_rows; inner/left-outer/semi report removals directly",
         |  "st27_incremental_manifest (documents fixture, not events): dedup state rows == cumulative distinct text fingerprints — monotone, never evicted (TTL.NONE), and ZERO growth on the final re-crawl delivery that redelivers batch 0's texts under fresh doc_ids while still emitting one decision per doc"
         | ],
         | "queries": [
         |$qs
         | ]
         |}
         |""".stripMargin
    }
  }

  /** ts-ordered equal slices of the events fixture — LateDataAudit's
    * schedule without the deferral. */
  def schedule(spark: SparkSession, sfDir: String,
      nBatches: Int): Map[Int, Seq[(Long, Long, Timestamp, String, Double)]] = {
    val rows = Tables.events(spark, sfDir)
      .select("event_id", "user_id", "ts", "event_type", "value")
      .collect() // fixture-sized diagnostic harness — see object doc
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        r.getString(3), r.getDouble(4)))
      .sortBy { case (id, _, t, _, _) => (t.getTime, t.getNanos, id) }
    val n = rows.length
    rows.zipWithIndex
      .groupBy { case (_, i) => (i.toLong * nBatches / n).toInt }
      .view.mapValues(_.map(_._1).toSeq).toMap
  }

  /** The audited delay: long enough (96 h, LateDataAudit's convention)
    * that retention SPANS several of the fixture's ~4-day delivery
    * slices — with the queries' production default of 30 minutes every
    * batch self-evicts before the next delivery and all four variants
    * trivially converge to the frontier residue, hiding the retention
    * mechanics the audit exists to document. The claims (watermark
    * bounds state; semi retires matched errors early) are properties
    * of the JOIN MECHANISM, invariant in the delay parameter. */
  val AuditWatermark = "96 hours"

  val variants: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
    "st05_stream_interval_join" ->
      ((c: DataFrame, e: DataFrame) =>
        Events.clickErrorJoin(c, e, AuditWatermark)),
    "st11_stream_left_outer_join" ->
      ((c: DataFrame, e: DataFrame) =>
        Events.clickErrorJoin(c, e, AuditWatermark, "left_outer")),
    "st15_stream_full_outer_join" ->
      ((c: DataFrame, e: DataFrame) =>
        Events.clickErrorJoin(c, e, AuditWatermark, "full_outer")),
    "st17_stream_semi_join" ->
      ((c: DataFrame, e: DataFrame) =>
        Events.errorWithClickSemi(c, e, AuditWatermark)))

  def run(spark: SparkSession, sfDir: String, nBatches: Int = 8): Audit = {
    val joins = runJoins(spark, sfDir, nBatches)
    Audit(joins.queries :+ runCuration(spark, sfDir, nBatches))
  }

  /** The four stream-stream join variants (the original r10 audit). */
  def runJoins(spark: SparkSession, sfDir: String, nBatches: Int = 8): Audit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val byBatch = schedule(spark, sfDir, nBatches)

    val audits = variants.zipWithIndex.map { case ((name, build), vi) =>
      val in = MemoryStream[(Long, Long, Timestamp, String, Double)]
      val df = in.toDF()
        .toDF("event_id", "user_id", "ts", "event_type", "value")
      val q = build(
        df.filter(col("event_type") === "click"),
        df.filter(col("event_type") === "error"))
        .writeStream.format("memory").queryName(s"state_audit_$vi")
        .outputMode("append").start()
      // cumulative counters from the NEW progress entries per delivery
      // (by batchId, last report per id — a batch can report twice),
      // not a re-sum of the bounded recentProgress ring buffer: a run
      // past numRecentProgressUpdates batches would silently undercount
      // (the r11 ADVICE.md fragility). Contiguity is asserted.
      var lastBatchId = -1L
      val batches = (0 until nBatches).map { k =>
        val batch = byBatch.getOrElse(k, Seq.empty)
        in.addData(batch: _*)
        q.processAllAvailable()
        val fresh = q.recentProgress.toSeq.filter(_.batchId > lastBatchId)
          .groupBy(_.batchId).toSeq.sortBy(_._1).map(_._2.last)
        if (fresh.nonEmpty) {
          val ids = fresh.map(_.batchId)
          require(ids.head == lastBatchId + 1 || lastBatchId == -1L,
            s"progress ring buffer wrapped: gap before batch ${ids.head}")
          require(ids.zip(ids.tail).forall { case (a, b) => b == a + 1 },
            s"progress entries not contiguous: $ids")
          lastBatchId = ids.last
        }
        val ops = q.lastProgress.stateOperators.toSeq
        val state = ops.map(_.numRowsTotal).sum
        val bytes = ops.map(_.memoryUsedBytes).sum
        val removed = fresh
          .flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
        val out = fresh.map(_.sink.numOutputRows).filter(_ >= 0).sum
        val wm = Option(q.lastProgress)
          .flatMap(p => Option(p.eventTime.get("watermark"))).getOrElse("")
        BatchState(k, batch.size.toLong, state, bytes, removed, out, wm)
      }
      q.stop()
      QueryAudit(name, batches)
    }
    Audit(audits)
  }

  /** st27's dedup-state audit (VERDICT r14 ask #2): the incremental
    * curation manifest's transformWithState store over doc_id-ordered
    * delivery slices of the documents fixture. The claim under audit:
    * state rows == CUMULATIVE DISTINCT TEXT FINGERPRINTS — one boolean
    * marker per text, never evicted (TTL.NONE; production bounds the
    * reprocessing horizon with a TTL), and independent of event
    * volume. The final delivery REDELIVERS batch 0's texts under fresh
    * doc_ids (the re-crawl case): it must add ZERO state rows while
    * still emitting one decision per admitted doc — the spec asserts
    * both, plus monotone non-decreasing state. */
  def runCuration(spark: SparkSession, sfDir: String,
      nBatches: Int = 8): QueryAudit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val docs = Tables.documents(spark, sfDir)
        .select("doc_id", "text", "n_chars").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1)
      val n = docs.length
      val dataBatches = nBatches - 1
      val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
      def slice(k: Int) = docs.zipWithIndex
        .filter { case (_, i) => i.toLong * dataBatches / n == k }
        .map(_._1)
      val in = MemoryStream[(java.sql.Timestamp, Long, String, Long)]
      val q = Events.incrementalManifestStream(
          in.toDF().toDF("ingest_ts", "doc_id", "text", "n_chars"))
        .toDF("doc_id", "text", "n_chars", "survived")
        .writeStream.format("memory").queryName("st27_state_audit")
        .outputMode("update").start()
      var lastBatchId = -1L
      val batches = (0 until nBatches).map { k =>
        val rows =
          if (k < dataBatches)
            slice(k).map { case (id, t, nc) =>
              (new java.sql.Timestamp(base + k * 3600000L), id, t, nc) }
          else
            // re-crawl delivery: batch 0's TEXTS under fresh doc_ids
            slice(0).map { case (id, t, nc) =>
              (new java.sql.Timestamp(base + k * 3600000L),
                id + 10000000L, t, nc) }
        in.addData(rows: _*)
        q.processAllAvailable()
        val fresh = q.recentProgress.toSeq.filter(_.batchId > lastBatchId)
          .groupBy(_.batchId).toSeq.sortBy(_._1).map(_._2.last)
        if (fresh.nonEmpty) lastBatchId = fresh.map(_.batchId).max
        val ops = q.lastProgress.stateOperators.toSeq
        val state = ops.map(_.numRowsTotal).sum
        val bytes = ops.map(_.memoryUsedBytes).sum
        val removed = fresh
          .flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
        val out = fresh.map(_.sink.numOutputRows).filter(_ >= 0).sum
        val wm = Option(q.lastProgress)
          .flatMap(p => Option(p.eventTime.get("watermark"))).getOrElse("")
        BatchState(k, rows.size.toLong, state, bytes, removed, out, wm)
      }
      q.stop()
      QueryAudit("st27_incremental_manifest", batches)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "STATE_SIZE.json"
    graft.Harness.auditMain(sfDir, out)(run(_, _).json)
  }
}
