package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --root <checkout>
  * Main --record <expected.tsv> --root <checkout>
  * }}}
  *
  * Prints an `inputs` line, a `config` line and a `run` line of JSON, the
  * name, error class and message of every failed operation, and last the
  * result object `{"correct", "attempted", "failed", "metrics"}`. With
  * `--trace 0` the metrics are the end-to-end ones; with `--trace 1` a
  * separate traced pass gives the per-layer ones. */
object Main {
  val defaultSeed = 1L
  val setups = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = Paths.get(opt.getOrElse("root", ".")).toAbsolutePath.normalize
    val work = root.resolve(".bench_build/perfbench")
    val base = root.resolve("perfbench/data/base").toString
    opt.get("record") match {
      case Some(out) => record(work, base, Paths.get(out))
      case None =>
        val workload = opt.getOrElse("workload", sys.error("--workload is required"))
        require(Workloads.names.contains(workload),
          s"unknown workload '$workload'; expected one of ${Workloads.names.mkString(", ")}")
        // any error that ends the run exits non-zero, without a result
        // line, rather than leaving Spark's threads to keep the JVM alive
        try run(workload, opt.get("seed").map(_.toLong).getOrElse(defaultSeed),
          opt.get("seconds").map(_.toDouble).getOrElse(10.0),
          opt.getOrElse("trace", "0") == "1", work, base,
          root.resolve("perfbench/data/expected.tsv"))
        catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }
    }
  }

  /** Runs one workload and prints its result; a failed operation is part
    * of the result, not an error of the run. */
  def run(workloadName: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, base: String, expectedPath: Path): Unit = {
    // set-up: session start plus a warm-up query on the committed base
    // tables, repeated so the reported figure is a median; the first is
    // the cold one of the process. The last session is kept.
    var spark: SparkSession = null
    val setupTimes = (1 to setups).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Session.start(work)
      Session.warmUp(spark, base)
      (System.nanoTime() - t0) / 1e9
    }
    val tIn = System.nanoTime()
    val in = Inputs.load(work.resolve("inputs"), base, seed, spark,
      Workloads.needs(workloadName))
    val inputsS = (System.nanoTime() - tIn) / 1e9
    println(Json.obj("inputs" -> Json.obj(
      "seed" -> seed, "checksum" -> in.checksum,
      "files" -> Json.obj(in.sizes.map { case (n, rows, bytes) =>
        n -> Json.obj("rows" -> rows, "mb" -> bytes / 1048576.0) }: _*))))
    println(Json.obj("config" -> Json.obj(
      (Session.settings(work).filterNot(_._1.startsWith("spark.local")).map {
        case (k, v) => k -> (v: Any) } ++ Seq(
        "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "cores" -> Session.cores, "input_checksum" -> in.checksum,
        "workload" -> workloadName, "seconds" -> seconds, "trace" -> trace)): _*)))

    val w = Workloads(workloadName, in, Expected.load(expectedPath), work)
    val off = new Tracer(false)

    var passNo = 0
    def pass(tracer: Tracer, listen: Boolean): PassRecord = {
      passNo += 1
      val ps = spark.newSession()
      tracer.sc = Some(ps.sparkContext)
      val ls = if (listen) Some(new Listeners(ps)) else None
      val cache = new CacheProbe(ps)
      val ops = w.ops(ps, tracer, passNo).map(op => op.copy(body = () =>
        try op.body() finally if (listen) cache.sample()))
      val p = Passes.run(ops, tracer)
      ls.foreach(_.detach())
      val heap = Session.retainedHeapMb()
      val stored = w match { case s: StreamWorkload => s.stateBytes(passNo); case _ => 0L }
      Session.sweep(ps)
      PassRecord(p, ls, cache, tracer, heap, stored)
    }

    // the workload's untimed warm-up, then timed passes until the time
    // is used, at least one. A traced run instead makes an untraced, a
    // traced and an untraced pass; the traced one minus the mean of the
    // other two is the tracing overhead, with the process's warming over
    // the three passes cancelled out.
    val warmFailures = {
      passNo += 1
      val ws = spark.newSession()
      val p = Passes.run(w.warmUp(ws, passNo), off)
      Session.sweep(ws)
      p.failures
    }
    val timed = scala.collection.mutable.ArrayBuffer.empty[PassRecord]
    val traced = if (trace) {
      timed += pass(off, listen = false)
      val t = pass(new Tracer(true), listen = true)
      timed += pass(off, listen = false)
      Some(t -> (t.pass.seconds - timed.map(_.pass.seconds).sum / 2))
    } else {
      val t0 = System.nanoTime()
      do timed += pass(off, listen = false)
      while ((System.nanoTime() - t0) / 1e9 + timed.map(_.pass.seconds).max <= seconds)
      None
    }

    val passes = timed.map(_.pass).toSeq
    val failures = warmFailures ++ traced.toSeq.flatMap(_._1.pass.failures)
    val sum = Passes.summarize(passes, failures)
    (failures ++ passes.flatMap(_.failures)).groupBy(_.op).values.map(_.head)
      .foreach(f => println(s"FAILED ${f.line}"))
    val opMedians = sum.opMedians.map(_._2)
    val (tailPct, tailValue) = Passes.tail(opMedians)
    println(Json.obj("run" -> Json.obj(
      "passes" -> passes.size, "pass_s" -> passes.map(_.seconds),
      "ops" -> sum.attempted, "latency_ops" -> opMedians.size,
      "op_tail_percentile" -> tailPct, "setup_s" -> setupTimes,
      "inputs_s" -> inputsS,
      "op_s" -> Json.obj(sum.opMedians.map { case (n, v) => n -> (v: Any) }: _*),
      "fail_frac" -> sum.failFrac, "failed_ops" -> sum.failedOps)))

    val metrics: Seq[(String, Double, String)] = traced match {
      case None => Seq(
        ("setup_s", Passes.median(setupTimes), "s"),
        ("pass_s", sum.passS, "s"),
        ("op_p50_s", Passes.median(opMedians), "s"),
        ("op_tail_s", tailValue, "s"),
        ("ok_frac", 1.0 - sum.failFrac, "frac"),
        ("heap_retained_mb", Passes.median(timed.map(_.heapMb).toSeq), "MB"))
      case Some((t, overhead)) => Layers.metrics(w, t, overhead, sum.failFrac)
    }
    println(Json.obj(
      "correct" -> sum.failedOps.isEmpty, "attempted" -> sum.attempted,
      "failed" -> sum.failedOps.size,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> v, "unit" -> u) }: _*)))
    traced.foreach(_._1.tracer.write(work.resolve(s"traces/$workloadName-seed$seed.jsonl")))
    spark.stop()
  }

  private def record(work: Path, base: String, out: Path): Unit = {
    val spark = Session.start(work)
    val in = Inputs.load(work.resolve("inputs"), base, defaultSeed, spark, Seq("flights"))
    val x28 = graft.ext.Curation.all.filter(_.name == "x28_release_pipeline")
    val queries = (Workloads.relational ++ Workloads.corpus).map(_._2) ++ x28
    // registry results are recorded on the base tables themselves
    val flights = FlightWorkload.results(graft.mlx.FlightPipeline.run(
      graft.mlx.FlightPipeline.readStringly(spark, in.flightsCsv),
      graft.mlx.FlightPipeline.readStringly(spark, in.planesCsv), folds = 5))
    val lines = Expected.record(spark, base, queries, flights)
    java.nio.file.Files.write(out, (Seq(
      "# kind\tname\tvalue(s): registry results on the unpermuted base tables;",
      "# flight results (every seed permutes the same flights; checked within 0.5 RMSE / 0.02 R2)") ++ lines)
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    spark.stop()
  }
}

/** One timed pass with what was measured around it. */
final case class PassRecord(pass: Pass, listeners: Option[Listeners],
    cache: CacheProbe, tracer: Tracer, heapMb: Double, storedBytes: Long)

/** Samples the cache after each operation of a traced pass. */
final class CacheProbe(spark: SparkSession) {
  var persistedLeft = 0L
  var storageMaxBytes = 0L
  def sample(): Unit = {
    val sc = spark.sparkContext
    persistedLeft += sc.getPersistentRDDs.size
    storageMaxBytes = math.max(storageMaxBytes,
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
  }
}

object Session {
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  def settings(work: Path): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> work.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString)

  def start(work: Path): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    settings(work).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A small query over the committed base tables, so the first file
    * reads and query compilation of the process land in set-up. */
  def warmUp(spark: SparkSession, base: String): Unit = {
    import org.apache.spark.sql.functions._
    Workloads.materialize(spark.read.parquet(s"$base/lineitem.parquet")
      .groupBy("l_returnflag").agg(sum("l_quantity"), count(lit(1)))
      .orderBy("l_returnflag"))
  }

  /** Driver heap in use after a full collection, in MB. The pause lets
    * Spark's cleaner release the blocks of what the first collection found
    * unreachable, so the second measures what the pass really retained. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Releases what a pass left cached so the next pass starts alike. */
  def sweep(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }
}

/** Minimal JSON rendering for the output lines. */
object Json {
  final case class Obj(text: String) { override def toString: String = text }

  def obj(kv: (String, Any)*): Obj =
    Obj(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  def value(v: Any): String = v match {
    case o: Obj => o.text
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(String.valueOf(other))
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
