package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Sinks
import graft.ext.{Dedup, Graph, Similarity}
import graft.mlx.FlightPipeline
import graft.queries.{Extensions, QueryDef, Relational}
import graft.stream.ReleaseStream

/** What a workload runs: `ops` are the operations of one timed pass, built
  * (untimed) just before it on the pass's own session; `warmUp` runs once,
  * untimed, before the timed passes. */
trait Workload {
  def warmUp(spark: SparkSession, pass: Int): Seq[Op] = Nil
  def ops(spark: SparkSession, tracer: Tracer, pass: Int): Seq[Op]
}

object Workloads {
  val names: Seq[String] =
    Seq("flight_pipeline", "relational_suite", "corpus_suite", "release_stream")

  /** The generated inputs each workload reads (see Inputs.load). */
  def needs(name: String): Seq[String] = name match {
    case "flight_pipeline" => Seq("flights")
    case "relational_suite" => Seq("documents", "events", "lineitem", "orders")
    case "corpus_suite" => Seq("documents", "embeddings", "lineitem")
    case "release_stream" => Seq("documents", "triggers")
  }

  def apply(name: String, in: Inputs, expected: Expected, work: Path): Workload =
    name match {
      case "flight_pipeline" => new FlightWorkload(in, expected)
      case "relational_suite" => new SuiteWorkload(in.dir, expected, relational)
      case "corpus_suite" => new SuiteWorkload(in.dir, expected, corpus)
      case "release_stream" => new StreamWorkload(in, expected, work)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other'; expected one of ${names.mkString(", ")}")
    }

  /** (layer, query) of the relational suite, from the q* and e* registry
    * queries: two of the four that dominate a full pass (q47, q24), the
    * graft.expr sketches e02 and e08 with their md5-keyed twins, the
    * TopKPerKey operator (e04), the DayPart expression (e01) and two short
    * reads where per-query fixed cost dominates. A whole family does not
    * fit the run budget; the benchmark README lists what is left out. */
  def relational: Seq[(String, QueryDef)] = pick(
    Seq("queries.Relational" -> Relational.all, "queries.Extensions" -> Extensions.all),
    Seq("q15_topk", "q24_profile", "q30_null_funcs", "q47_try_funcs",
      "e01_daypart_expr", "e02_distinct_sketch", "e02b_hll_md5",
      "e04_topk_custom_operator", "e08_countmin_sketch", "e08b_countmin_md5"))

  /** (layer, query) of the corpus suite, from the d*, s* (not st*) and g*
    * registry queries: eager fixed-point and checkpoint loops (g17 Brandes
    * betweenness, d27 prefix-filter pairs), exact dedup, filtered top-k
    * similarity and short reads of the same families. An even count keeps
    * op_p50_s the mean of two middle operations rather than whichever
    * single one noise puts there. */
  def corpus: Seq[(String, QueryDef)] = pick(
    Seq("ext.Dedup" -> Dedup.all, "ext.Similarity" -> Similarity.all, "ext.Graph" -> Graph.all),
    Seq("d01_dedup_exact", "d27_prefix_filter_pairs", "s09_filtered_topk",
      "s22_embedding_health", "g09_degree_histogram", "g17_seeded_betweenness"))

  private def pick(modules: Seq[(String, Seq[QueryDef])],
      names: Seq[String]): Seq[(String, QueryDef)] =
    names.map(n => modules.flatMap { case (layer, qs) => qs.find(_.name == n).map(layer -> _) }
      .headOption.getOrElse(throw new NoSuchElementException(s"no registry query $n")))

  val layers: Seq[String] = Seq("queries.Relational", "queries.Extensions",
    "ext.Dedup", "ext.Similarity", "ext.Graph")

  /** The timed action: materialize every row and column of the declared
    * result, the same plan Verify writes, into a sink that stores nothing. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** Registry queries, one operation each: build the DataFrame, then write
  * its whole result to the noop sink. Each output is checked on that same
  * execution against the value recorded on the unpermuted tables. */
final class SuiteWorkload(dir: String, expected: Expected,
    queries: Seq[(String, QueryDef)]) extends Workload {

  def ops(spark: SparkSession, tracer: Tracer, pass: Int): Seq[Op] =
    queries.map { case (layer, q) =>
      Op(q.name, () => {
        val df = tracer(s"$layer.build")(q.build(spark, dir))
        val (checked, verify) = expected.observed(q.name, df)
        tracer(s"$layer.exec")(Workloads.materialize(checked))
        verify()
      })
    }
}

/** The paper's program: CSV ingest, cleaning, feature engineering, FDR/FWE
  * selection and LR/DTR/RFR under 5-fold CV, as one operation. A traced
  * pass calls the same public stages one by one and materializes each. */
final class FlightWorkload(in: Inputs, expected: Expected) extends Workload {
  def ops(spark: SparkSession, tracer: Tracer, pass: Int): Seq[Op] =
    Seq(Op("flight_pipeline", () =>
      expected.checkFlight(if (tracer.enabled) staged(spark, tracer) else whole(spark))))

  private def whole(spark: SparkSession): Seq[FlightPipeline.ModelResult] = {
    val flights = FlightPipeline.readStringly(spark, in.flightsCsv)
    val planes = FlightPipeline.readStringly(spark, in.planesCsv)
    FlightWorkload.results(FlightPipeline.run(flights, planes, folds = 5))
  }

  private def staged(spark: SparkSession, tr: Tracer): Seq[FlightPipeline.ModelResult] = {
    val (flights, planes) = tr("mlx.ingest") {
      val f = FlightPipeline.readStringly(spark, in.flightsCsv)
      val p = FlightPipeline.readStringly(spark, in.planesCsv)
      Workloads.materialize(f); Workloads.materialize(p)
      (f, p)
    }
    val base = tr("mlx.prepare") {
      val b = FlightPipeline.dropCorrelated(
        FlightPipeline.engineer(FlightPipeline.clean(flights, planes)))
      Workloads.materialize(b)
      b
    }
    val feats = tr("mlx.featurize") {
      val f = FlightPipeline.featurize(base).cache()
      Workloads.materialize(f)
      f
    }
    val selected = tr("mlx.select") {
      Seq("fdr", "fwe").map { mode =>
        val s = FlightPipeline.select(feats, mode)
        Workloads.materialize(s)
        mode -> s
      }
    }
    val results = tr("mlx.train") {
      selected.flatMap { case (mode, s) => FlightPipeline.train(s, mode, folds = 5) }
    }
    feats.unpersist()
    results
  }
}

object FlightWorkload {
  def results(df: DataFrame): Seq[FlightPipeline.ModelResult] =
    df.collect().toSeq.map(r => FlightPipeline.ModelResult(
      r.getAs[String]("model"), r.getAs[String]("selector"),
      r.getAs[Double]("rmse"), r.getAs[Double]("r2"),
      r.getAs[String]("bestParams"), r.getAs[Int]("nFeatures")))
}

/** Incremental corpus release: each trigger admits one seeded slice of the
  * documents into parquet state with ReleaseStream.processBatch, on a
  * fresh state directory per pass; the pass ends by reading the manifest,
  * which must equal x28_release_pipeline's batch output as recorded. */
final class StreamWorkload(in: Inputs, expected: Expected, work: Path)
    extends Workload {
  /** One small trigger on a state directory of its own, so the timed
    * triggers show state growth rather than the process's first
    * compilation of processBatch. */
  override def warmUp(spark: SparkSession, pass: Int): Seq[Op] =
    ops(spark, new Tracer(false), pass, Vector(in.triggers.head.take(8)))
      .filter(_.latency)
  /** UTF-8 bytes of all document texts, the stream's input size. */
  var inputTextBytes = 0L
  def stateDir(pass: Int): Path = work.resolve(s"stream/pass-$pass")

  def ops(spark: SparkSession, tracer: Tracer, pass: Int): Seq[Op] =
    ops(spark, tracer, pass, in.triggers)

  private def ops(spark: SparkSession, tracer: Tracer, pass: Int,
      batches: Vector[Vector[Long]]): Seq[Op] = {
    val state = stateDir(pass)
    Inputs.deleteTree(state)
    val docs = spark.read.parquet(s"${in.dir}/documents.parquet")
    if (inputTextBytes == 0L)
      inputTextBytes = docs.agg(sum(octet_length(col("text")))).head().getLong(0)
    val triggers = batches.zipWithIndex.map { case (ids, k) =>
      Op(s"trigger_$k", () => {
        val batch = docs.filter(col("doc_id").isin(ids: _*))
          .select("doc_id", "lang", "text")
        tracer("stream.trigger")(
          ReleaseStream.processBatch(spark, state.toString)(batch, k.toLong))
      })
    }
    triggers :+ Op("manifest", () => {
      val verify = tracer("stream.manifest") {
        val (checked, verify) = expected.observed("x28_release_pipeline",
          ReleaseStream.manifest(spark, state.toString))
        Workloads.materialize(checked)
        verify
      }
      verify()
    }, latency = false)
  }

  def stateBytes(pass: Int): Long = {
    val s = stateDir(pass)
    Inputs.treeBytes(s.resolve("docs")) + Inputs.treeBytes(s.resolve("manifest"))
  }
}

/** Recorded outputs (data/expected.tsv). Registry results are fingerprints
  * (graft.core.Sinks) taken on the unpermuted tables, except the queries
  * whose output legitimately depends on input order or hashing seeds
  * (the rows-only set of the oracle check), which compare row counts.
  * Flight results compare RMSE within 0.5 and R2 within 0.02. */
final class Expected(entries: Map[String, Seq[String]]) {
  /** `df` with its check riding on the same execution: an observed
    * aggregate computes Sinks.fingerprint's value (the row count alone for
    * a rows-only query) while the rows stream to the sink. The returned
    * function compares it with the recorded value once the write is done. */
  def observed(name: String, df: DataFrame): (DataFrame, () => Unit) = {
    val obs = org.apache.spark.sql.Observation()
    entries.get(name) match {
      case Some(Seq("fp", v)) =>
        val o = df.observe(obs, count(lit(1)).as("n"),
          sum(pmod(Sinks.rowHash(df), lit(Expected.P61)).cast("decimal(38,0)")).as("s"))
        (o, () => {
          val m = obs.get
          val n = m("n").asInstanceOf[Long]
          val s = Option(m("s")).map(_.asInstanceOf[java.math.BigDecimal].toBigInteger)
            .getOrElse(java.math.BigInteger.ZERO)
          val fp = s.mod(java.math.BigInteger.valueOf(Expected.P61)).longValue() ^
            java.lang.Long.rotateLeft(n, 32)
          if (fp != v.toLong) throw new WrongResult(s"fingerprint $fp, expected $v")
        })
      case Some(Seq("rows", v)) =>
        (df.observe(obs, count(lit(1)).as("n")), () => {
          val n = obs.get("n").asInstanceOf[Long]
          if (n != v.toLong) throw new WrongResult(s"$n rows, expected $v")
        })
      case _ => throw new WrongResult(s"no recorded result for $name")
    }
  }

  def checkFlight(results: Seq[FlightPipeline.ModelResult]): Unit = {
    if (results.size != 6) throw new WrongResult(s"${results.size} model results, expected 6")
    results.foreach { r =>
      entries.get(s"${r.model}/${r.selector}") match {
        case Some(Seq("flight", rmse, r2)) =>
          if (math.abs(r.rmse - rmse.toDouble) > 0.5 || math.abs(r.r2 - r2.toDouble) > 0.02)
            throw new WrongResult(
              s"${r.model}/${r.selector}: rmse ${r.rmse} r2 ${r.r2}, expected $rmse / $r2")
        case _ => throw new WrongResult(s"no recorded result for ${r.model}/${r.selector}")
      }
    }
  }
}

object Expected {
  /** The modulus of Sinks.fingerprint, 2^61 - 1. */
  val P61 = 2305843009213693951L

  /** Queries checked by row count only (CORRECTNESS_r15.json: no oracle). */
  val rowsOnly: Set[String] = Set("d02_dedup_minhash", "d03_dedup_simhash",
    "d06_dedup_minhash_native", "d09_dedup_simhash_banded",
    "e02_distinct_sketch", "e03_profile_approx", "e08_countmin_sketch",
    "s02_ann_lsh", "s03_ann_ivf")

  def load(path: Path): Expected = {
    import scala.jdk.CollectionConverters._
    new Expected(Files.readAllLines(path).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split('\t').toSeq)
      .map(l => l(1) -> (l.head +: l.drop(2))).toMap)
  }

  /** Lines of data/expected.tsv for the queries and flight results given. */
  def record(spark: SparkSession, dir: String, queries: Seq[QueryDef],
      flight: Seq[FlightPipeline.ModelResult]): Seq[String] =
    queries.map { q =>
      val df = q.build(spark, dir)
      if (rowsOnly(q.name)) s"rows\t${q.name}\t${df.count()}"
      else s"fp\t${q.name}\t${Sinks.fingerprint(df)}"
    } ++ flight.map(r => s"flight\t${r.model}/${r.selector}\t${r.rmse}\t${r.r2}")
}
