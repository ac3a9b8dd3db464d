package graft.stream

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.Tables

/** Late-data audit harness (VERDICT r9 #8): documents the watermark
  * contract of the streaming tumbling aggregate the way PLANS.txt
  * documents plan shapes — as a committed, spec-guarded artifact.
  *
  * The events fixture is delivered through a MemoryStream in
  * deterministic micro-batches: rows are ordered by (ts, event_id) and
  * cut into `nBatches` equal slices; every 7th event_id is DEFERRED by
  * `defer` slices, arriving days behind the stream's frontier. With a
  * watermark delay shorter than `defer` slice widths, part of the
  * deferred traffic lands behind the watermark and must be dropped by
  * the engine; the rest is admitted. Per delivery batch the audit
  * records:
  *
  *   - `delivered`: rows fed to the engine this batch,
  *   - `observed_dropped`: the engine's own
  *     `stateOperators.numRowsDroppedByWatermark` delta,
  *   - `expected_dropped`: the count derived from the PUBLIC watermark
  *     contract — wm(k) = max event-time millis seen through batch k−1
  *     minus the delay, and an input row is dropped iff its tumbling
  *     window END (as epoch millis) is ≤ wm(k),
  *   - the watermark the engine reported for the batch.
  *
  * The spec (LateDataAuditSpec) asserts observed == expected row-for-
  * row — i.e. the documented rule IS the engine's rule — and that the
  * committed LATE_DATA.json matches a fresh run.
  *
  * Driver-side data note: a MemoryStream harness necessarily holds the
  * delivery schedule locally; this is a fixture-sized DIAGNOSTIC main
  * (1000 rows at sf0.001), not a registered query — production
  * late-data accounting reads the same numRowsDroppedByWatermark
  * metric from StreamingQueryProgress, which is O(batches), not
  * O(rows). */
object LateDataAudit {

  case class BatchStat(batch: Int, delivered: Long, observedDropped: Long,
      expectedDropped: Long, watermark: String)

  case class Audit(stats: Seq[BatchStat]) {
    def totalDelivered: Long = stats.map(_.delivered).sum
    def totalObserved: Long = stats.map(_.observedDropped).sum
    def totalExpected: Long = stats.map(_.expectedDropped).sum
    def json: String = {
      val rows = stats.map { b =>
        s"""  {"batch": ${b.batch}, "delivered": ${b.delivered},""" +
          s""" "observed_dropped": ${b.observedDropped},""" +
          s""" "expected_dropped": ${b.expectedDropped},""" +
          s""" "watermark": "${b.watermark}"}"""
      }.mkString(",\n")
      s"""{
         | "harness": "LateDataAudit",
         | "fixture": "events.parquet sf0.001",
         | "n_batches": ${stats.size},
         | "total_delivered": $totalDelivered,
         | "total_dropped_observed": $totalObserved,
         | "total_dropped_expected": $totalExpected,
         | "batches": [
         |$rows
         | ]
         |}
         |""".stripMargin
    }
  }

  /** One row of the delivery schedule. */
  case class Ev(eventId: Long, ts: Timestamp, eventType: String,
      value: Double, delivery: Int)

  def hourWindowEndMs(ts: Timestamp): Long = {
    val hourMs = 3600L * 1000
    (ts.getTime / hourMs + 1) * hourMs
  }

  /** Deterministic delivery schedule over the fixture: slice k of
    * `nBatches` equal (ts, event_id)-ordered slices arrives at batch k,
    * except event_id % 7 == 0 rows, deferred to batch k + defer when
    * that still lands inside the run. */
  def schedule(spark: SparkSession, sfDir: String, nBatches: Int,
      defer: Int): Seq[Ev] = {
    val rows = Tables.events(spark, sfDir)
      .select("event_id", "ts", "event_type", "value")
      .collect() // fixture-sized diagnostic harness — see object doc
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2),
        r.getDouble(3)))
      .sortBy { case (id, t, _, _) => (t.getTime, t.getNanos, id) }
    val n = rows.length
    rows.zipWithIndex.map { case ((id, t, et, v), i) =>
      val slice = (i.toLong * nBatches / n).toInt
      val delivery =
        if (id % 7 == 0 && slice + defer < nBatches) slice + defer else slice
      Ev(id, t, et, v, delivery)
    }
  }

  def run(spark: SparkSession, sfDir: String, nBatches: Int = 8,
      defer: Int = 2, delayMs: Long = 96L * 3600 * 1000,
      queryName: String = "late_audit_out"): Audit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext

    val evs = schedule(spark, sfDir, nBatches, defer)
    val byBatch = evs.groupBy(_.delivery)

    val in = MemoryStream[(Long, Timestamp, String, Double)]
    val events = in.toDF().toDF("event_id", "ts", "event_type", "value")
    val q: StreamingQuery = Events
      .tumblingStream(events, s"${delayMs / 1000} seconds")
      .writeStream.format("memory").queryName(queryName)
      .outputMode("append").start()

    def droppedSoFar(): Long =
      q.recentProgress.toSeq
        .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum

    var maxSeenMs = Long.MinValue
    var prevDropped = 0L
    // the expected-drop derivation below assumes each non-empty delivery
    // runs as EXACTLY ONE input-bearing micro-batch with the watermark
    // frozen from the prior delivery; a trigger/config that splits a
    // delivery (maxOffsetsPerTrigger-style limits, future engine
    // changes) would silently desynchronize observed vs expected — so
    // the batch count is asserted per delivery and a split fails with a
    // diagnosis instead of a confusing drop-count mismatch
    var nonEmptyDeliveries = 0
    def inputBatches(): Int =
      q.recentProgress.count(_.numInputRows > 0)
    val stats = (0 until nBatches).map { k =>
      val batch = byBatch.getOrElse(k, Seq.empty)
      // the engine's watermark for THIS batch is frozen from the data
      // seen through batch k-1
      val wmMs = if (maxSeenMs == Long.MinValue) 0L
        else math.max(0L, maxSeenMs - delayMs)
      val expected =
        batch.count(e => hourWindowEndMs(e.ts) <= wmMs).toLong
      in.addData(batch.map(e => (e.eventId, e.ts, e.eventType, e.value)): _*)
      q.processAllAvailable()
      if (batch.nonEmpty) nonEmptyDeliveries += 1
      val seenInputBatches = inputBatches()
      require(seenInputBatches == nonEmptyDeliveries,
        s"delivery $k did not run as one micro-batch: $seenInputBatches " +
          s"input-bearing micro-batches for $nonEmptyDeliveries non-empty " +
          "deliveries — the frozen-watermark expected-drop derivation no " +
          "longer holds (did a trigger limit split the batch?)")
      val nowDropped = droppedSoFar()
      val obs = nowDropped - prevDropped
      prevDropped = nowDropped
      if (batch.nonEmpty)
        maxSeenMs = math.max(maxSeenMs, batch.map(_.ts.getTime).max)
      val wmStr = Option(q.lastProgress)
        .flatMap(p => Option(p.eventTime.get("watermark"))).getOrElse("")
      BatchStat(k, batch.size.toLong, obs, expected, wmStr)
    }
    q.stop()
    Audit(stats)
  }

  /** st27's late-data audit (VERDICT r14 ask #2): the incremental
    * curation manifest drops documents that arrive behind the ingest
    * watermark — the reprocessing-horizon contract. Delivery schedule:
    * doc_id-ordered slices one hour apart carrying their ORIGINAL
    * ingest_ts; doc_id % 7 == 0 rows are deferred THREE slices (they
    * land behind the 1 h watermark and must be dropped by the engine's
    * transformWithState late filter), while doc_id % 5 == 0 rows (not
    * also % 7) defer ONE slice — late but inside the horizon, admitted.
    * The public contract being audited, boundary included: with
    * wm(k) = max ingest_ts delivered through batch k−1 minus the
    * delay, an input row is dropped iff its ingest_ts <= wm(k)
    * (probe-verified: the engine drops AT the watermark, not only
    * strictly behind it). The % 11 rows defer TWO slices, which lands
    * them EXACTLY ON the watermark (ts == wm) — the class that
    * distinguishes the inclusive rule from strict <: under strict <
    * they would be admitted and observed would fall short of
    * expected, so the spec's observed == expected assertion pins the
    * boundary, not just the far-late behavior. */
  def runSt27(spark: SparkSession, sfDir: String, nBatches: Int = 8,
      delayMs: Long = 3600L * 1000): Audit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val docs = graft.core.Tables.documents(spark, sfDir)
        .select("doc_id", "text", "n_chars").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1)
      val n = docs.length
      val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      val sched = docs.zipWithIndex.map { case ((id, t, nc), i) =>
        val slice = (i.toLong * nBatches / n).toInt
        val defer =
          if (id % 7 == 0 && slice + 3 < nBatches) 3
          else if (id % 7 != 0 && id % 5 == 0 && slice + 1 < nBatches) 1
          else if (id % 7 != 0 && id % 5 != 0 && id % 11 == 0 &&
            slice + 2 < nBatches) 2
          else 0
        (new Timestamp(base + slice * 3600000L), id, t, nc, slice + defer)
      }
      val byBatch = sched.groupBy(_._5)
      val in = MemoryStream[(Timestamp, Long, String, Long)]
      val q = Events.incrementalManifestStream(
          in.toDF().toDF("ingest_ts", "doc_id", "text", "n_chars"),
          s"${delayMs / 1000} seconds")
        .toDF("doc_id", "text", "n_chars", "survived")
        .writeStream.format("memory").queryName("st27_late_audit")
        .outputMode("update").start()
      def droppedSoFar(): Long =
        q.recentProgress.toSeq
          .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      var maxSeenMs = Long.MinValue
      var prevDropped = 0L
      var nonEmptyDeliveries = 0
      def inputBatches(): Int = q.recentProgress.count(_.numInputRows > 0)
      val stats = (0 until nBatches).map { k =>
        val batch = byBatch.getOrElse(k, Array.empty[(Timestamp, Long, String, Long, Int)])
        val wmMs = if (maxSeenMs == Long.MinValue) 0L
          else math.max(0L, maxSeenMs - delayMs)
        // the audited rule, boundary inclusive: dropped iff ts <= wm
        val expected = batch.count(e => e._1.getTime <= wmMs).toLong
        in.addData(batch.map(e => (e._1, e._2, e._3, e._4)).toSeq: _*)
        q.processAllAvailable()
        if (batch.nonEmpty) nonEmptyDeliveries += 1
        require(inputBatches() == nonEmptyDeliveries,
          s"delivery $k split into multiple micro-batches — the " +
            "frozen-watermark expected-drop derivation no longer holds")
        val nowDropped = droppedSoFar()
        val obs = nowDropped - prevDropped
        prevDropped = nowDropped
        if (batch.nonEmpty)
          maxSeenMs = math.max(maxSeenMs, batch.map(_._1.getTime).max)
        val wmStr = Option(q.lastProgress)
          .flatMap(p => Option(p.eventTime.get("watermark"))).getOrElse("")
        BatchStat(k, batch.length.toLong, obs, expected, wmStr)
      }
      q.stop()
      Audit(stats)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  /** The committed LATE_DATA.json: the events tumbling-aggregate
    * section (the original r9 audit) plus st27's ingest-horizon
    * section, in one object. */
  def fullJson(spark: SparkSession, sfDir: String): String = {
    val events = run(spark, sfDir)
    val st27 = runSt27(spark, sfDir)
    val rows = st27.stats.map { b =>
      s"""  {"batch": ${b.batch}, "delivered": ${b.delivered},""" +
        s""" "observed_dropped": ${b.observedDropped},""" +
        s""" "expected_dropped": ${b.expectedDropped},""" +
        s""" "watermark": "${b.watermark}"}"""
    }.mkString(",\n")
    events.json.stripSuffix("\n").stripSuffix("}") + "," +
      s""" "st27_incremental_manifest": {
         | "fixture": "documents.parquet sf0.001",
         | "watermark_delay": "1 hour",
         | "drop_rule": "ingest_ts <= max_seen_ingest_ts - delay (boundary inclusive)",
         | "n_batches": ${st27.stats.size},
         | "total_delivered": ${st27.totalDelivered},
         | "total_dropped_observed": ${st27.totalObserved},
         | "total_dropped_expected": ${st27.totalExpected},
         | "batches": [
         |$rows
         | ]
         |}
         |}
         |""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "LATE_DATA.json"
    graft.Harness.auditMain(sfDir, out)(fullJson)
  }
}
