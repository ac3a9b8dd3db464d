package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The generated inputs of one seed, as far as a workload needs them.
  *
  * @param dir       row-permuted copies of the base tables, one parquet
  *                  file per table, read by the registry queries and the stream
  * @param triggers  document ids of each release-stream trigger
  * @param checksum  sha256 prefix over the bytes of every input used
  * @param sizes     (name, rows, bytes) of every input used */
final case class Inputs(dir: String, flightsCsv: String, planesCsv: String,
    triggers: Vector[Vector[Long]], checksum: String,
    sizes: Seq[(String, Long, Long)])

/** Seeded input generation, cached per seed and input under the work
  * directory.
  *
  * The registry tables are a row permutation of the committed base tables
  * (`data/base`: the tables of the repository's sf0.01 test data that the
  * benchmark's queries read), so
  * every order-independent result is the same for every seed and one
  * recorded fingerprint checks them all. The flight CSV is likewise a
  * row permutation of fixed synthetic flights in the Data Expo 2009
  * layout; the seed also assigns documents to release-stream triggers. */
object Inputs {
  /** The base tables the benchmark's queries and stream read. */
  val tables: Seq[String] =
    Seq("orders", "lineitem", "events", "documents", "embeddings")
  val flightRows = 2500
  /** The flights are drawn once from this seed and row-permuted by the
    * workload seed, so the model results have one recorded value. */
  val flightBaseSeed = 2009L
  val triggerCount = 2

  /** Generates what is missing of `needs` (table names, "flights",
    * "triggers") for `seed`, then describes it. */
  def load(cacheRoot: Path, baseDir: String, seed: Long, spark: SparkSession,
      needs: Seq[String]): Inputs = {
    val dir = cacheRoot.resolve(s"seed-$seed")
    Files.createDirectories(dir.resolve("tables"))
    val gen = spark.newSession()
    // events.ts is read the way ProbeData reads it; the copy keeps the
    // type it was read as, which Tables.events accepts either way
    gen.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // tables first, concurrently (each is a small job); the trigger
    // assignment reads the documents table
    val (tableNeeds, rest) = needs.partition(tables.contains)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val made = tableNeeds.map(n => scala.concurrent.Future(ensure(gen, baseDir, dir, n, seed)))
      made.foreach(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
    } finally pool.shutdown()
    rest.foreach(ensure(gen, baseDir, dir, _, seed))
    val files = needs.flatMap(artifact(dir, _))
    val triggers =
      if (!needs.contains("triggers")) Vector.empty
      else Files.readAllLines(dir.resolve("triggers.txt")).asScala
        .map(_.split(' ').toVector.map(_.toLong)).toVector
    val sizes = needs.map(n => (n,
      new String(Files.readAllBytes(dir.resolve(s"$n.rows")), UTF_8).toLong,
      artifact(dir, n).map(treeBytes).sum))
    Inputs(dir.resolve("tables").toString, dir.resolve("flights.csv").toString,
      dir.resolve("planes.csv").toString, triggers, checksum(dir, files), sizes)
  }

  private def ensure(spark: SparkSession, baseDir: String, dir: Path,
      name: String, seed: Long): Unit =
    if (!Files.exists(dir.resolve(s"$name.rows"))) {
      artifact(dir, name).foreach(deleteTree)
      val rows = generate(spark, baseDir, dir, name, seed)
      Files.write(dir.resolve(s"$name.rows"), rows.toString.getBytes(UTF_8))
    }

  private def artifact(dir: Path, name: String): Seq[Path] = name match {
    case "flights" => Seq(dir.resolve("flights.csv"), dir.resolve("planes.csv"))
    case "triggers" => Seq(dir.resolve("triggers.txt"))
    case t => Seq(dir.resolve(s"tables/$t.parquet"))
  }

  /** Writes one input and returns its row count. */
  private def generate(spark: SparkSession, baseDir: String, dir: Path,
      name: String, seed: Long): Long = name match {
    case "flights" =>
      val (header +: flights, planes) = flightCsvs(new SplittableRandom(flightBaseSeed))
      val permuted = shuffle(flights.toArray, new SplittableRandom(seed))
      Files.write(dir.resolve("planes.csv"), planes.getBytes(UTF_8))
      Files.write(dir.resolve("flights.csv"),
        (header +: permuted.toSeq).mkString("", "\n", "\n").getBytes(UTF_8))
      flights.size
    case "triggers" =>
      val docIds = spark.read.parquet(dir.resolve("tables/documents.parquet").toString)
        .select("doc_id").collect().map(_.getLong(0)).sorted
      // a stream of its own, so the assignment does not depend on which
      // other inputs were generated first
      val shuffled = shuffle(docIds, new SplittableRandom(seed).split())
      val per = math.ceil(shuffled.length.toDouble / triggerCount).toInt
      Files.write(dir.resolve("triggers.txt"),
        shuffled.grouped(per).map(_.mkString(" ")).mkString("\n").getBytes(UTF_8))
      triggerCount
    case t =>
      val df = spark.read.parquet(s"$baseDir/$t.parquet")
      val rows = org.apache.spark.sql.Observation()
      df.coalesce(1)
        .sortWithinPartitions(xxhash64(lit(seed) +: df.columns.map(col).toSeq: _*))
        .observe(rows, count(lit(1)).as("n"))
        .write.parquet(dir.resolve(s"tables/$t.parquet").toString)
      rows.get("n").asInstanceOf[Long]
  }

  private def shuffle[T](xs: Array[T], rnd: SplittableRandom): Array[T] = {
    val out = xs.clone()
    for (i <- out.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = out(i); out(i) = out(j); out(j) = t
    }
    out
  }

  private val flightHeader = Seq("Year", "Month", "DayofMonth", "DayOfWeek",
    "DepTime", "CRSDepTime", "ArrTime", "CRSArrTime", "UniqueCarrier",
    "FlightNum", "TailNum", "ActualElapsedTime", "CRSElapsedTime", "AirTime",
    "ArrDelay", "DepDelay", "Origin", "Dest", "Distance", "TaxiIn", "TaxiOut",
    "Cancelled", "CancellationCode", "Diverted", "CarrierDelay",
    "WeatherDelay", "NASDelay", "SecurityDelay", "LateAircraftDelay")

  /** Data-Expo-shaped flight lines (header first) with a learnable delay
    * signal, `NA` sentinels in every imputed column, ~2 % cancellations and
    * DepTime values past 2400; plus the plane table they join, in which some
    * tail numbers carry no attributes and some are missing altogether. */
  private def flightCsvs(rnd: SplittableRandom): (Seq[String], String) = {
    val carriers = Vector("AA", "UA", "DL", "WN", "US", "CO", "NW")
    val airports = Vector("ATL", "ORD", "DFW", "LAX", "DEN", "JFK", "SFO",
      "PHX", "IAH", "LAS", "BOS", "MIA")
    val makers = Vector(("BOEING", "737-300"), ("BOEING", "757-222"),
      ("AIRBUS INDUSTRIE", "A320-232"), ("EMBRAER", "EMB-145XR"),
      ("MCDONNELL DOUGLAS", "MD-82"))
    val tails = Vector.tabulate(300)(i => s"N${100 + 7 * i}")
    def hhmm(minutes: Int): Int = (minutes / 60) * 100 + minutes % 60
    def na(p: Double, v: => Any): String =
      if (rnd.nextDouble() < p) "NA" else v.toString

    val fl = Seq.newBuilder[String]
    fl += flightHeader.mkString(",")
    for (_ <- 0 until flightRows) {
      val carrier = rnd.nextInt(carriers.size)
      val origin = rnd.nextInt(airports.size)
      val dest = (origin + 1 + rnd.nextInt(airports.size - 1)) % airports.size
      val crsDepMin = 300 + rnd.nextInt(1139)
      val depDelay =
        if (rnd.nextDouble() < 0.7) rnd.nextInt(26) - 10 else 15 + rnd.nextInt(166)
      // the raw sum may pass 2400, which the pipeline filters (F5)
      val depTime = hhmm(crsDepMin + depDelay)
      val distance = 150 + rnd.nextInt(2400)
      val crsElapsed = distance / 8 + 30 + rnd.nextInt(15)
      val crsArr = hhmm((crsDepMin + crsElapsed) % 1440)
      val taxiOut = 5 + rnd.nextInt(30)
      val arrDelay = depDelay + (taxiOut - 15) / 2 + carrier - 3 + rnd.nextInt(25) - 12
      val cancelled = rnd.nextDouble() < 0.02
      val row = Seq(
        (2007 + rnd.nextInt(2)).toString, na(0.005, 1 + rnd.nextInt(12)),
        na(0.005, 1 + rnd.nextInt(28)), na(0.005, 1 + rnd.nextInt(7)),
        if (cancelled) "NA" else na(0.01, depTime), hhmm(crsDepMin).toString,
        if (cancelled) "NA" else hhmm((crsDepMin + depDelay + crsElapsed) % 1440).toString,
        na(0.01, crsArr), carriers(carrier), (1 + rnd.nextInt(4000)).toString,
        tails(rnd.nextInt(tails.size)),
        if (cancelled) "NA" else (crsElapsed + arrDelay - depDelay).toString,
        crsElapsed.toString,
        if (cancelled) "NA" else (crsElapsed - taxiOut - 5).toString,
        if (cancelled) "NA" else na(0.01, arrDelay),
        if (cancelled) "NA" else na(0.01, depDelay),
        airports(origin), airports(dest), na(0.01, distance),
        if (cancelled) "NA" else (3 + rnd.nextInt(10)).toString,
        if (cancelled) "NA" else na(0.01, taxiOut),
        if (cancelled) "1" else "0",
        if (cancelled) "ABCD".charAt(rnd.nextInt(4)).toString else "",
        "0",
        na(0.8, rnd.nextInt(60)), na(0.8, rnd.nextInt(30)),
        na(0.8, rnd.nextInt(40)), na(0.8, 0), na(0.8, rnd.nextInt(50)))
      fl += row.mkString(",")
    }

    val pl = new StringBuilder(
      "tailnum,type,manufacturer,issue_date,model,status,aircraft_type,engine_type,year\n")
    tails.zipWithIndex.foreach { case (t, i) =>
      if (i % 30 == 29) () // absent from the plane table
      else if (i % 30 == 28) pl.append(t).append(",,,,,,,,\n")
      else {
        val (maker, model) = makers(rnd.nextInt(makers.size))
        val year = 1988 + rnd.nextInt(20)
        val issue = f"${1 + rnd.nextInt(12)}%02d/${1 + rnd.nextInt(28)}%02d/${year + 1}%d"
        val engine = if (maker == "EMBRAER") "Turbo-Jet" else "Turbo-Fan"
        pl.append(Seq(t, "Corporation", maker, issue, model, "Valid",
          "Fixed Wing Multi-Engine", engine, year).mkString(",")).append('\n')
      }
    }
    (fl.result(), pl.toString)
  }

  private def checksum(dir: Path, inputs: Seq[Path]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    inputs.flatMap(p => Files.walk(p).iterator().asScala)
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".")
        && p.getFileName.toString != "_SUCCESS")
      .sortBy(p => dir.relativize(p).toString)
      .foreach { p =>
        md.update(dir.relativize(p).toString.replaceAll("part-.*", "part").getBytes(UTF_8))
        md.update(Files.readAllBytes(p))
      }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
      .map(Files.size).sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}
