package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.QueryDef

/** Multimodal column handling: media as opaque `binary` columns with
  * typed metadata structs, plus a feature-extraction stage whose actual
  * codec is STUBBED (no image/audio libs in this container) behind a
  * deterministic fake — the Spark-side plumbing (schema, batch shape,
  * partition-parallel decode) is real.
  *
  * At 100 TB: blobs stay columnar in parquet, metadata predicates prune
  * row groups before any decode; the decode stage is a narrow
  * mapPartitions (no shuffle), sized by `spark.sql.files.maxPartitionBytes`.
  */
object Multimodal {

  /** A decoded-media feature row (what a real image decoder would emit). */
  final case class MediaFeatures(
      doc_id: Long, n_bytes: Int, width: Int, height: Int, mean_luma: Double)

  /** Assemble the multimodal frame: blob (binary) + metadata struct. */
  def mediaFrame(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      col("text").cast("binary").as("blob"),
      struct(
        col("lang").as("lang"),
        col("source").as("source"),
        col("n_chars").as("n_chars")).as("meta"))

  /** STUB decoder — deterministic fake standing in for a real image/audio
    * codec (none available in this container). Runs partition-parallel
    * over the binary column exactly as a real decoder would; only the
    * body of `decodeOne` is fake. */
  def decodeFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.select(col("doc_id").cast("long"), col("blob"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => decodeOne(id, bytes) })
  }

  /** Fake decode: content-derived dimensions + "luma". The rolling hash
    * folds UNICODE CODEPOINTS of the UTF-8-decoded payload (not raw
    * bytes) so the DuckDB oracle's per-character ascii() fold matches for
    * ALL text, not just ASCII. Deterministic in the blob content. */
  private def decodeOne(id: Long, bytes: Array[Byte]): MediaFeatures = {
    val n = bytes.length
    val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    MediaFeatures(
      doc_id = id,
      n_bytes = n,
      width = (acc % 640).toInt,
      height = ((acc / 640) % 480).toInt,
      mean_luma = (acc % 256).toDouble / 255.0)
  }

  /** m01 — metadata + content digest over the binary column: the
    * fully-oracle-able slice (md5 over identical UTF-8 bytes). */
  val metaDigest: QueryDef = QueryDef(
    "m01_multimodal_digest",
    (s, d) =>
      mediaFrame(s, d).select(
        col("doc_id"),
        length(col("blob")).as("n_bytes"),
        md5(col("blob")).as("digest"),
        col("meta.lang").as("lang"),
        col("meta.n_chars").as("n_chars"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id, CAST(strlen(text) AS INTEGER) AS n_bytes,
            md5(text) AS digest, lang, n_chars
            FROM documents ORDER BY doc_id"""))

  /** m02 — the decode stage through mapPartitions (typed batch shape).
    * The rolling-hash "decode" is mirrored in SQL so even the stub is
    * oracle-checked. */
  val decode: QueryDef = QueryDef(
    "m02_multimodal_decode",
    (s, d) => decodeFeatures(mediaFrame(s, d)).toDF().orderBy("doc_id"),
    Some("""WITH h AS (
              SELECT doc_id, CAST(strlen(text) AS INTEGER) AS n_bytes,
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(text) + 1),
                                   i -> CAST(ascii(text[i]) AS BIGINT))),
                  (acc, ch) -> (acc * 31 + ch) % 1000000007) AS acc
              FROM documents)
            SELECT doc_id, n_bytes,
              CAST(acc % 640 AS INTEGER) AS width,
              CAST((acc // 640) % 480 AS INTEGER) AS height,
              CAST(acc % 256 AS DOUBLE) / 255.0 AS mean_luma
            FROM h ORDER BY doc_id"""))

  /** m03 — resize + frame-sample over the decoded features: pure integer
    * arithmetic on the (stub-)decoded dimensions, so the whole media
    * transform chain (decode → resize → sample) is oracle-checked even
    * though the codec itself is fake. Resize fits into a 224×224 box
    * preserving aspect; frame-sample takes every k-th frame index. */
  val resizeSample: QueryDef = QueryDef(
    "m03_multimodal_resize_sample",
    (s, d) => {
      val feats = decodeFeatures(mediaFrame(s, d)).toDF()
      feats.selectExpr(
        "doc_id", "width", "height",
        // scale = 224 / max(width, height), target dims floor'd, min 1
        "greatest(CAST(floor(width * 224.0 / greatest(width, height, 1)) AS INT), 1) AS out_w",
        "greatest(CAST(floor(height * 224.0 / greatest(width, height, 1)) AS INT), 1) AS out_h",
        // fake frame count from bytes; sample every 7th frame index
        "CAST(n_bytes % 120 + 1 AS INT) AS n_frames",
        "size(sequence(0, n_bytes % 120, 7)) AS n_sampled")
        .orderBy("doc_id")
    },
    Some("""WITH h AS (
              SELECT doc_id, CAST(strlen(text) AS INTEGER) AS n_bytes,
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(text) + 1),
                                   i -> CAST(ascii(text[i]) AS BIGINT))),
                  (acc, ch) -> (acc * 31 + ch) % 1000000007) AS acc
              FROM documents),
            f AS (
              SELECT doc_id, n_bytes,
                CAST(acc % 640 AS INTEGER) AS width,
                CAST((acc // 640) % 480 AS INTEGER) AS height
              FROM h)
            SELECT doc_id, width, height,
              greatest(CAST(floor(width * 224.0 / greatest(width, height, 1)) AS INTEGER), 1) AS out_w,
              greatest(CAST(floor(height * 224.0 / greatest(width, height, 1)) AS INTEGER), 1) AS out_h,
              CAST(n_bytes % 120 + 1 AS INTEGER) AS n_frames,
              CAST(len(range(0, n_bytes % 120 + 1, 7)) AS INTEGER) AS n_sampled
            FROM f ORDER BY doc_id"""))

  /** m04 — the full multimodal RETRIEVAL chain: blob → embedding →
    * top-k neighbor search, end-to-end oracle-exact. The "embedding
    * model" is the stub stage (8 int8-range dims from the blob's md5 via
    * the d10 Carter-Wegman family h_k = ha + k·hb — a real encoder would
    * replace only that projection); scoring is s05's integer-dot
    * discipline (BIGINT products, order-independent sums).
    *
    * Scale shape: the bounded query set (3 probe blobs) broadcasts; the
    * corpus embeds in place and is never shuffled — each task scores its
    * partition and the per-query top-5 resolves with a rank-limit window
    * (WindowGroupLimit map-side prune). s01's shape with a multimodal
    * front end. */
  val embedTopk: QueryDef = {
    val dims = 8
    val sparkEmbed =
      s"transform(sequence(0, ${dims - 1}), k -> CAST((ha + k * hb) % 255 AS BIGINT) - 127)"
    QueryDef(
      "m04_multimodal_embed_topk",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val feats = mediaFrame(s, d)
          .select(col("doc_id"),
            expr(Dedup.sparkMd5Int60("CAST(blob AS STRING)")).as("ha"),
            expr("CAST(conv(substring(md5(CAST(blob AS STRING)), 17, 14), 16, 10) AS BIGINT)")
              .as("hb"))
          .select(col("doc_id"), expr(sparkEmbed).as("f"))
        val probes = feats.filter(col("doc_id") < 3)
          .select(col("doc_id").as("q_id"), col("f").as("qf"))
        val scored = feats.crossJoin(broadcast(probes))
          .select(col("q_id"), col("doc_id"),
            expr("aggregate(zip_with(qf, f, (x, y) -> x * y), 0L, (a, v) -> a + v)")
              .as("dot"))
        scored
          .withColumn("rn", row_number().over(
            Window.partitionBy("q_id").orderBy(col("dot").desc, col("doc_id"))))
          .filter(col("rn") <= 5).drop("rn")
          .orderBy("q_id", "doc_id")
      },
      Some(s"""WITH f AS (
                 SELECT doc_id,
                   list_transform(range(0, $dims),
                     k -> CAST((ha + k * hb) % 255 AS BIGINT) - 127) AS f
                 FROM (SELECT doc_id,
                         ${Dedup.duckMd5Int60("text")} AS ha,
                         ${Dedup.duckMd5IntSlice("text", 17, 14)} AS hb
                       FROM documents)),
               scored AS (
                 SELECT q.doc_id AS q_id, c.doc_id,
                   list_reduce(
                     list_transform(range(1, $dims + 1), i -> q.f[i] * c.f[i]),
                     (a, v) -> a + v) AS dot
                 FROM f c, (SELECT * FROM f WHERE doc_id < 3) q),
               ranked AS (
                 SELECT q_id, doc_id, dot,
                   row_number() OVER (PARTITION BY q_id
                     ORDER BY dot DESC, doc_id) AS rn
                 FROM scored)
               SELECT q_id, doc_id, CAST(dot AS BIGINT) AS dot
               FROM ranked WHERE rn <= 5 ORDER BY q_id, doc_id"""))
  }

  /** m05 — perceptual-hash near-dup detection over the binary column:
    * blob → decode stub → 60-bit perceptual signature → banded Hamming
    * candidate join. The signature stands in for an image pHash (DCT
    * low-frequency bits); the stub computes d11's md5-family SimHash
    * over the DECODED payload, which preserves the property a real
    * pHash has and an avalanche digest (m01) does not: near-identical
    * content → small Hamming distance. Banding (4×15 bits) makes the
    * search an equi-join — the pigeonhole bound keeps recall exact at
    * Hamming ≤ 3 — and each pair carries its side's source metadata to
    * show typed meta rides the multimodal pipeline end to end.
    *
    * Scale shape: decode is a narrow per-row cast (a real codec would
    * be the same mapPartitions stage as m02); the only shuffles are the
    * band equi-join on 8-byte keys and the two bounded meta lookups. */
  val phashNearDup: QueryDef = {
    val maxHamming = 3
    QueryDef(
      "m05_multimodal_phash_neardup",
      (s, d) => {
        val media = mediaFrame(s, d)
        val decoded = media.select(col("doc_id"),
          col("blob").cast("string").as("text"))
        val meta = media.select(col("doc_id"), col("meta.source").as("source"))
        Dedup.multiProbePairs(
            Dedup.simhash(decoded, Dedup.sparkMd5Int60("tok"), 60),
            15, 4, maxHamming, 0)
          .join(meta.select(col("doc_id").as("a_id"), col("source").as("a_source")),
            "a_id")
          .join(meta.select(col("doc_id").as("b_id"), col("source").as("b_source")),
            "b_id")
          .select("a_id", "b_id", "hamming", "a_source", "b_source")
          .orderBy("a_id", "b_id")
      },
      Some {
        val votes = (0 until 60).map(i =>
          s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
          .mkString(", ")
        val pack = (0 until 60).map(i =>
          s"CASE WHEN b$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END")
          .mkString(" + ")
        s"""WITH toks AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            hx AS (SELECT doc_id, ${Dedup.duckMd5Int60("tok")} AS h FROM toks),
            votes AS (SELECT doc_id, $votes FROM hx GROUP BY 1),
            sigs AS (SELECT doc_id, CAST($pack AS BIGINT) AS sh FROM votes),
            bands AS (
              SELECT doc_id, sh, k AS band, (sh >> (k * 15)) & 32767 AS bv
              FROM sigs, unnest(range(0, 4)) AS tk(k)),
            cand AS (
              SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                a.sh AS a_sh, b.sh AS b_sh
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
            pairs AS (
              SELECT a_id, b_id,
                CAST(bit_count(xor(a_sh, b_sh)) AS INTEGER) AS hamming
              FROM cand WHERE bit_count(xor(a_sh, b_sh)) <= $maxHamming)
            SELECT a_id, b_id, hamming, da.source AS a_source,
              db.source AS b_source
            FROM pairs
            JOIN documents da ON da.doc_id = a_id
            JOIN documents db ON db.doc_id = b_id
            ORDER BY a_id, b_id"""
      })
  }

  /** m06 — audio-style frame windowing + per-frame feature extraction:
    * the blob is treated as a decoded PCM stream (the stub: one
    * "sample" per payload character), cut into fixed 64-sample frames
    * (the hop = frame size, no overlap — x24 shows the overlapped
    * variant on tokens), and each frame reduced to an energy feature
    * (Σ sample values). Per document: frame count, mean energy, and the
    * peak frame (argmax, earliest frame on ties) — the shape of a real
    * audio loudness/VAD pass whose decoder would replace only the
    * "samples = codepoints" stub.
    *
    * Determinism: frame boundaries are integer arithmetic on codepoint
    * positions; energies are exact integer sums; the argmax tiebreak is
    * total (energy DESC, frame_idx ASC).
    *
    * Scale shape: the frame explode is narrow (rows × len/64 inside the
    * scan stage, no shuffle — ChunkWindows' generator shape via
    * sequence+substring); then ONE doc-keyed aggregate and ONE bounded
    * window for the argmax. A real decoder slots in as the same
    * mapPartitions stage as m02 with zero plan changes downstream. */
  val audioFrameEnergy: QueryDef = {
    val frame = 64
    QueryDef(
      "m06_audio_frame_energy",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val frames = mediaFrame(s, d)
          .select(col("doc_id"), col("blob").cast("string").as("pcm"))
          .select(col("doc_id"),
            expr(s"CAST(ceil(length(pcm) / $frame.0) AS INT)").as("n_frames"),
            col("pcm"))
          // n_frames=0 guard: sequence(0, -1) yields the DESCENDING
          // [0, -1] (two bogus frames), while the oracle's range(0, 0)
          // emits none — empty payloads must drop out on BOTH engines
          .filter(col("n_frames") > 0)
          .select(col("doc_id"), col("n_frames"),
            posexplode(expr("sequence(0, n_frames - 1)")).as(Seq("ord", "idx")),
            col("pcm"))
          .select(col("doc_id"), col("n_frames"), col("idx"),
            expr(s"aggregate(split(substring(pcm, idx * $frame + 1, $frame), ''), " +
              "CAST(0 AS BIGINT), (acc, ch) -> acc + ascii(ch))").as("energy"))
        val per = frames.groupBy("doc_id")
          .agg(max("n_frames").as("n_frames"),
            // r12 sweep: exact e4 fixed-point mean (int/int quotients
            // can sit exactly on a dyadic rounding boundary).
            expr("(10000 * sum(energy)) DIV count(*)").as("mean_energy_e4"))
          .withColumn("mean_energy",
            expr("CAST(mean_energy_e4 AS DOUBLE) / 10000.0"))
        val peak = frames
          .withColumn("rn", row_number().over(
            Window.partitionBy("doc_id")
              .orderBy(col("energy").desc, col("idx"))))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("idx").as("peak_frame"),
            col("energy").as("peak_energy"))
        per.join(peak, "doc_id").orderBy("doc_id")
      },
      Some(s"""WITH fr AS (
                 SELECT doc_id,
                   CAST(ceil(length(text) / $frame.0) AS INTEGER) AS n_frames,
                   i AS idx,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(
                         range(1, length(text[i * $frame + 1 : i * $frame + $frame]) + 1),
                         j -> CAST(ascii((text[i * $frame + 1 : i * $frame + $frame])[j])
                                   AS BIGINT))),
                     (acc, ch) -> acc + ch) AS energy
                 FROM documents,
                   unnest(range(0, CAST(ceil(length(text) / $frame.0) AS BIGINT)))
                     AS u(i)),
               per AS (
                 SELECT doc_id, max(n_frames) AS n_frames,
                   CAST((10000 * sum(energy)) // count(*) AS BIGINT)
                     AS mean_energy_e4,
                   CAST(CAST((10000 * sum(energy)) // count(*) AS BIGINT)
                     AS DOUBLE) / 10000.0 AS mean_energy
                 FROM fr GROUP BY 1),
               pk AS (
                 SELECT doc_id, CAST(idx AS INTEGER) AS peak_frame,
                   energy AS peak_energy
                 FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                         ORDER BY energy DESC, idx) AS rn FROM fr)
                 WHERE rn = 1)
               SELECT per.doc_id, per.n_frames, per.mean_energy_e4,
                 per.mean_energy, pk.peak_frame, pk.peak_energy
               FROM per JOIN pk USING (doc_id)
               ORDER BY doc_id"""))
  }

  /** m07 — cross-modal retrieval evaluation (the CLIP-style alignment
    * check: does each document's TEXT embedding retrieve its own IMAGE
    * embedding?): two stub encoders share the m04 md5 projection but
    * the image side carries a small content-derived perturbation (a
    * second Carter-Wegman stream mod 17), so self-retrieval mostly —
    * not trivially — succeeds; 20 text queries score against all image
    * vectors by integer dot, and the report is recall@1 / recall@5 /
    * exact mean self-rank. A real pipeline swaps the two projections
    * for text/vision towers and keeps every line below unchanged.
    *
    * Determinism: both embeddings are integer md5-family folds; scores
    * are exact integer dots; ranks total on (dot DESC, img id);
    * mean rank is one division of integer sums.
    *
    * Scale shape: the bounded query set broadcasts against the image
    * corpus (never shuffled, m04's shape); the self-rank filter makes
    * the ranking window's output one row per query before the 1-row
    * summary aggregate. */
  val crossmodalRetrieval: QueryDef = {
    val dims = 8; val nQ = 20
    val sparkTextEmb =
      s"transform(sequence(0, ${dims - 1}), k -> CAST((ha + k * hb) % 255 AS BIGINT) - 127)"
    val sparkImgEmb =
      s"transform(sequence(0, ${dims - 1}), k -> CAST((ha + k * hb + (hc + k * hd) % 17) % 255 AS BIGINT) - 127)"
    QueryDef(
      "m07_crossmodal_retrieval",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = mediaFrame(s, d).select(col("doc_id"),
          expr(Dedup.sparkMd5Int60("CAST(blob AS STRING)")).as("ha"),
          expr("CAST(conv(substring(md5(CAST(blob AS STRING)), 17, 14), 16, 10) AS BIGINT)")
            .as("hb"),
          expr(Dedup.sparkMd5Int60("concat('img:', CAST(blob AS STRING))")).as("hc"),
          expr("CAST(conv(substring(md5(concat('img:', CAST(blob AS STRING))), 17, 14), 16, 10) AS BIGINT)")
            .as("hd"))
        val txt = base.filter(col("doc_id") < nQ)
          .select(col("doc_id").as("q_id"), expr(sparkTextEmb).as("tf"))
        val img = base.select(col("doc_id").as("img_id"),
          expr(sparkImgEmb).as("mf"))
        val ranked = img.crossJoin(broadcast(txt))
          .select(col("q_id"), col("img_id"),
            expr("aggregate(zip_with(tf, mf, (x, y) -> x * y), CAST(0 AS BIGINT), (a, v) -> a + v)")
              .as("dot"))
          .withColumn("rnk", row_number().over(
            Window.partitionBy("q_id").orderBy(col("dot").desc, col("img_id"))))
          .filter(col("q_id") === col("img_id"))
        ranked.agg(
          count(lit(1)).as("n_queries"),
          sum(when(col("rnk") === 1, 1L).otherwise(0L)).as("n_at_1"),
          sum(when(col("rnk") <= 5, 1L).otherwise(0L)).as("n_at_5"),
          expr("(10000 * sum(rnk)) DIV count(*)").as("mean_self_rank_e4"))
          .withColumn("mean_self_rank",
            expr("CAST(mean_self_rank_e4 AS DOUBLE) / 10000.0"))
      },
      Some(s"""WITH h AS (
                 SELECT doc_id,
                   ${Dedup.duckMd5Int60("text")} AS ha,
                   ${Dedup.duckMd5IntSlice("text", 17, 14)} AS hb,
                   ${Dedup.duckMd5Int60("concat('img:', text)")} AS hc,
                   ${Dedup.duckMd5IntSlice("concat('img:', text)", 17, 14)} AS hd
                 FROM documents),
               txt AS (
                 SELECT doc_id AS q_id,
                   list_transform(range(0, $dims),
                     k -> CAST((ha + k * hb) % 255 AS BIGINT) - 127) AS tf
                 FROM h WHERE doc_id < $nQ),
               img AS (
                 SELECT doc_id AS img_id,
                   list_transform(range(0, $dims),
                     k -> CAST((ha + k * hb + (hc + k * hd) % 17) % 255
                          AS BIGINT) - 127) AS mf
                 FROM h),
               scored AS (
                 SELECT t.q_id, i.img_id,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, $dims + 1),
                       x -> t.tf[x] * i.mf[x])),
                     (a, v) -> a + v) AS dot
                 FROM txt t, img i),
               ranked AS (
                 SELECT q_id, img_id,
                   row_number() OVER (PARTITION BY q_id
                     ORDER BY dot DESC, img_id) AS rnk
                 FROM scored)
               SELECT count(*) AS n_queries,
                 CAST(sum(CASE WHEN rnk = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_at_1,
                 CAST(sum(CASE WHEN rnk <= 5 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_at_5,
                 CAST((10000 * sum(rnk)) // count(*) AS BIGINT)
                   AS mean_self_rank_e4,
                 CAST(CAST((10000 * sum(rnk)) // count(*) AS BIGINT)
                   AS DOUBLE) / 10000.0 AS mean_self_rank
               FROM ranked WHERE q_id = img_id"""))
  }

  /** m08 — shot-boundary detection over the video-style blob: the
    * decoded payload is cut into fixed 64-sample FULL frames (the
    * trailing partial frame is excluded — its energy drop is a frame-
    * length artifact, not content change), each frame reduced to an
    * exact integer energy (m06's feature), and a CUT is declared
    * wherever the absolute energy delta between consecutive frames
    * exceeds a threshold — the classic pixel/histogram-difference shot
    * detector (Boreczky & Rowe, "Comparison of video shot boundary
    * detection techniques", JEI 1996) with the codec stubbed and every
    * downstream stage real. Per video: full-frame count, cut count,
    * peak inter-frame delta, and the first cut's frame index (−1 when
    * the video is a single shot).
    *
    * Determinism: energies are exact integer sums; deltas exact longs;
    * the lag is over the total (doc, frame_idx) order.
    *
    * Scale shape: the frame explode is narrow (no shuffle — sequence +
    * substring inside the scan stage); the lag window and the final
    * aggregate both partition by doc_id, ONE shuffle total on the
    * video key. A real decoder slots in as m02's mapPartitions stage
    * with zero plan changes downstream. */
  val shotBoundaries: QueryDef = {
    val frame = 64
    val tau = 100L
    QueryDef(
      "m08_shot_boundaries",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val frames = mediaFrame(s, d)
          .select(col("doc_id"), col("blob").cast("string").as("pcm"))
          .select(col("doc_id"),
            expr(s"CAST(length(pcm) DIV $frame AS INT)").as("n_frames"),
            col("pcm"))
          .filter(col("n_frames") > 0)
          .select(col("doc_id"), col("n_frames"),
            posexplode(expr("sequence(0, n_frames - 1)")).as(Seq("ord", "idx")),
            col("pcm"))
          .select(col("doc_id"), col("n_frames"), col("idx"),
            expr(s"aggregate(split(substring(pcm, idx * $frame + 1, $frame), ''), " +
              "CAST(0 AS BIGINT), (acc, ch) -> acc + ascii(ch))").as("energy"))
        val deltas = frames
          .withColumn("dl", abs(col("energy") - lag(col("energy"), 1).over(
            Window.partitionBy("doc_id").orderBy("idx"))))
        deltas.groupBy("doc_id")
          .agg(max("n_frames").as("n_frames"),
            sum(when(col("dl") > tau, 1L).otherwise(0L)).as("n_cuts"),
            coalesce(max("dl"), lit(0L)).as("peak_delta"),
            coalesce(min(when(col("dl") > tau, col("idx"))), lit(-1))
              .as("first_cut"))
          .orderBy("doc_id")
      },
      Some(s"""WITH fr AS (
                 SELECT doc_id,
                   CAST(length(text) // $frame AS INTEGER) AS n_frames,
                   CAST(i AS INTEGER) AS idx,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(1, $frame + 1),
                         j -> CAST(ascii((text[i * $frame + 1 : i * $frame + $frame])[j])
                                   AS BIGINT))),
                     (acc, ch) -> acc + ch) AS energy
                 FROM documents,
                   unnest(range(0, length(text) // $frame)) AS u(i)),
               dl AS (
                 SELECT doc_id, n_frames, idx,
                   abs(energy - lag(energy) OVER (PARTITION BY doc_id
                     ORDER BY idx)) AS dl
                 FROM fr)
               SELECT doc_id, max(n_frames) AS n_frames,
                 CAST(sum(CASE WHEN dl > $tau THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_cuts,
                 coalesce(max(dl), 0) AS peak_delta,
                 CAST(coalesce(min(CASE WHEN dl > $tau THEN idx END), -1)
                   AS INTEGER) AS first_cut
               FROM dl GROUP BY doc_id ORDER BY doc_id"""))
  }

  /** m09 — voice-activity segmentation over the audio-style blob
    * (energy-threshold VAD, the classic front-end: Rabiner & Sambur,
    * "An algorithm for determining the endpoints of isolated
    * utterances", BSTJ 1975): fixed 64-sample FULL frames (m08's
    * framing — a trailing partial frame would read as a spurious
    * silence), each frame's exact integer energy compared against an
    * absolute threshold, and maximal runs of consecutive ACTIVE frames
    * coalesced into segments with the gaps-and-islands idiom (q50's
    * machinery: island key = frame_idx − row_number over active
    * frames). Per clip: frame/active counts, exact active-share ppm,
    * segment count, longest segment, and the first active frame (−1
    * for all-silence clips).
    *
    * Determinism: energies are exact integer sums; the island key is a
    * total-order row_number per doc; ppm is integer DIV — no floats.
    *
    * Scale shape: frame explode is narrow (sequence + substring in the
    * scan stage); the island row_number, the segment agg, and the
    * per-doc agg ALL partition by doc_id — one shuffle on the clip key
    * end to end. The totals↔segments join is doc-keyed (same
    * partitioning, no extra exchange); a real VAD feature (log-mel
    * energy) slots into the energy expression with no plan change. */
  val audioVad: QueryDef = {
    val frame = 64
    val tau = 6050L
    QueryDef(
      "m09_audio_vad",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val frames = mediaFrame(s, d)
          .select(col("doc_id"), col("blob").cast("string").as("pcm"))
          .select(col("doc_id"),
            expr(s"CAST(length(pcm) DIV $frame AS INT)").as("n_frames"),
            col("pcm"))
          .filter(col("n_frames") > 0)
          .select(col("doc_id"), col("n_frames"),
            posexplode(expr("sequence(0, n_frames - 1)")).as(Seq("ord", "idx")),
            col("pcm"))
          .select(col("doc_id"), col("n_frames"), col("idx"),
            (expr(s"aggregate(split(substring(pcm, idx * $frame + 1, $frame), ''), " +
              s"CAST(0 AS BIGINT), (acc, ch) -> acc + ascii(ch))") > tau)
              .as("active"))
        val totals = frames.groupBy("doc_id")
          .agg(max("n_frames").as("n_frames"),
            sum(when(col("active"), 1L).otherwise(0L)).as("n_active"))
        val segs = frames.filter(col("active"))
          .withColumn("isl", col("idx") - row_number().over(
            Window.partitionBy("doc_id").orderBy("idx")))
          .groupBy("doc_id", "isl")
          .agg(count(lit(1)).as("seg_len"), min("idx").as("seg_start"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_segments"),
            max("seg_len").as("longest_seg"),
            min("seg_start").as("first_active"))
        totals.join(segs, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_frames"), col("n_active"),
            expr("(1000000 * n_active) DIV n_frames").as("active_ppm"),
            coalesce(col("n_segments"), lit(0L)).as("n_segments"),
            coalesce(col("longest_seg"), lit(0L)).as("longest_seg"),
            coalesce(col("first_active"), lit(-1)).as("first_active"))
          .orderBy("doc_id")
      },
      Some(s"""WITH fr AS (
                 SELECT doc_id,
                   CAST(length(text) // $frame AS INTEGER) AS n_frames,
                   CAST(i AS INTEGER) AS idx,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(1, $frame + 1),
                         j -> CAST(ascii((text[i * $frame + 1 : i * $frame + $frame])[j])
                                   AS BIGINT))),
                     (acc, ch) -> acc + ch) > $tau AS active
                 FROM documents,
                   unnest(range(0, length(text) // $frame)) AS u(i)),
               tot AS (
                 SELECT doc_id, max(n_frames) AS n_frames,
                   CAST(sum(CASE WHEN active THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_active
                 FROM fr GROUP BY 1),
               isl AS (
                 SELECT doc_id, idx,
                   idx - row_number() OVER (PARTITION BY doc_id
                     ORDER BY idx) AS isl
                 FROM fr WHERE active),
               seg AS (
                 SELECT doc_id, isl, count(*) AS seg_len,
                   min(idx) AS seg_start
                 FROM isl GROUP BY 1, 2),
               per AS (
                 SELECT doc_id, count(*) AS n_segments,
                   max(seg_len) AS longest_seg,
                   min(seg_start) AS first_active
                 FROM seg GROUP BY 1)
               SELECT t.doc_id, t.n_frames, t.n_active,
                 (1000000 * t.n_active) // t.n_frames AS active_ppm,
                 coalesce(p.n_segments, 0) AS n_segments,
                 coalesce(p.longest_seg, 0) AS longest_seg,
                 CAST(coalesce(p.first_active, -1) AS INTEGER)
                   AS first_active
               FROM tot t LEFT JOIN per p ON p.doc_id = t.doc_id
               ORDER BY t.doc_id"""))
  }

  /** m10 — per-tile entropy profile of the image-style blob: the
    * payload is cut into 64-byte FULL tiles (m08's framing) and each
    * tile scored with its Shannon entropy over byte values — THE
    * classic flat-region / rich-texture / noise discriminator
    * (blur+blank detection in image QA; compressibility screening in
    * corpus curation — a near-zero-entropy payload is padding, a
    * max-entropy one is already-compressed or encrypted bytes a
    * training pipeline should route around). Per image: tile count and
    * the min/mean/max tile entropy in micro-nats.
    *
    * Determinism (t23's integerization discipline): each distinct
    * byte's c·ln(c) term is rounded to micro-nats FIRST and summed as
    * an exact long (order-free — sub-ulp libm ln() divergence between
    * engines is washed out by the 10⁶ rounding), so
    * H_micro = ln(64)·10⁶ − (Σ terms) DIV 64 is pure integer
    * arithmetic; the ln(64) constant is computed once in Scala and
    * emitted as the same literal to both engines.
    *
    * Scale shape: ZERO shuffle except the output sort — tiling, the
    * per-tile histogram (distinct chars × occurrence counts via
    * length-of-replace), the entropy fold, and the per-doc min/mean/max
    * all run IN-ROW as nested array lambdas inside the scan stage.
    * This is the pattern a real decoder feeds: mapPartitions (m02)
    * emits tiles, this expression scores them. */
  val tileEntropy: QueryDef = {
    val tile = 64
    val Ln64Micro = math.round(math.log(tile) * 1e6) // 4158883, both engines
    QueryDef(
      "m10_tile_entropy",
      (s, d) => {
        mediaFrame(s, d)
          .select(col("doc_id"), col("blob").cast("string").as("pcm"))
          .selectExpr("doc_id",
            s"CAST(length(pcm) DIV $tile AS INT) AS n_tiles", "pcm")
          .filter(col("n_tiles") > 0)
          .selectExpr("doc_id", "n_tiles",
            s"""transform(sequence(0, n_tiles - 1), i ->
                 $Ln64Micro - aggregate(
                   transform(
                     array_distinct(split(substring(pcm, i * $tile + 1, $tile), '')),
                     ch -> CAST(round(
                       ($tile - length(replace(substring(pcm, i * $tile + 1, $tile), ch, ''))) *
                       ln($tile - length(replace(substring(pcm, i * $tile + 1, $tile), ch, ''))) * 1e6)
                       AS BIGINT)),
                   CAST(0 AS BIGINT), (a, x) -> a + x) DIV $tile) AS ents""")
          .selectExpr("doc_id", "n_tiles",
            "array_min(ents) AS min_ent_micro",
            "aggregate(ents, CAST(0 AS BIGINT), (a, x) -> a + x) DIV n_tiles AS mean_ent_micro",
            "array_max(ents) AS max_ent_micro")
          .orderBy("doc_id")
      },
      Some(s"""WITH base AS (
                 SELECT doc_id,
                   CAST(length(text) // $tile AS INTEGER) AS n_tiles,
                   text AS pcm
                 FROM documents
                 WHERE length(text) // $tile > 0),
               ent AS (
                 SELECT doc_id, n_tiles,
                   list_transform(range(0, n_tiles), i ->
                     $Ln64Micro - list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(
                         list_distinct(string_split(pcm[i * $tile + 1 : i * $tile + $tile], '')),
                         ch -> CAST(round(
                           ($tile - length(replace(pcm[i * $tile + 1 : i * $tile + $tile], ch, ''))) *
                           ln($tile - length(replace(pcm[i * $tile + 1 : i * $tile + $tile], ch, ''))) * 1e6)
                           AS BIGINT))),
                       (a, x) -> a + x) // $tile) AS ents
                 FROM base)
               SELECT doc_id, n_tiles,
                 list_min(ents) AS min_ent_micro,
                 list_reduce(list_prepend(CAST(0 AS BIGINT), ents),
                   (a, x) -> a + x) // n_tiles AS mean_ent_micro,
                 list_max(ents) AS max_ent_micro
               FROM ent ORDER BY doc_id"""))
  }

  /** m11 — media quality gate: the metadata/decoded-feature admission
    * filter every multimodal training pipeline runs before embedding
    * (LAION's resolution/aspect gates, DataComp's size floors):
    * minimum dimensions (≥64×64), minimum payload (≥100 bytes),
    * non-degenerate luma (0.05–0.95 — rejects near-black/near-white
    * frames), and aspect ratio ≤ 4:1. Reported per source as pass
    * counts + one rejection count PER predicate (counted
    * independently, so a blob failing two gates shows up in both —
    * the per-reason accounting a gate-tuning pass needs), plus the
    * pass rate.
    *
    * Determinism: the decoded features are m02's oracle-mirrored
    * rolling-hash stub; every gate is an integer or fixed-expression
    * double compare; pass_rate is ONE IEEE division, rounded.
    *
    * Scale shape: decode is a narrow mapPartitions over the blob
    * column (no shuffle — m02's plan), the gate is a per-row
    * projection, and the only shuffle is the final source-domain hash
    * aggregate (bounded by the source inventory). Metadata-only
    * predicates (n_bytes) prune parquet row groups before decode. */
  val qualityGate: QueryDef = QueryDef(
    "m11_media_quality_gate",
    (s, d) => {
      import s.implicits._
      val media = mediaFrame(s, d).select(
        col("doc_id").cast("long"), col("blob"),
        col("meta.source").as("source"))
      val feats = media.as[(Long, Array[Byte], String)]
        .mapPartitions(_.map { case (id, bytes, src) =>
          val f = decodeOne(id, bytes)
          (src, f.n_bytes, f.width, f.height, f.mean_luma)
        })
        .toDF("source", "n_bytes", "width", "height", "mean_luma")
      feats
        .selectExpr("source",
          "width >= 64 AND height >= 64 AS ok_dims",
          "n_bytes >= 100 AS ok_bytes",
          "mean_luma >= 0.05 AND mean_luma <= 0.95 AS ok_luma",
          "CAST(greatest(width, height) AS DOUBLE) / greatest(least(width, height), 1) <= 4.0 AS ok_aspect")
        .withColumn("pass",
          col("ok_dims") && col("ok_bytes") && col("ok_luma") && col("ok_aspect"))
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
          sum(when(!col("ok_dims"), 1L).otherwise(0L)).as("n_bad_dims"),
          sum(when(!col("ok_bytes"), 1L).otherwise(0L)).as("n_bad_bytes"),
          sum(when(!col("ok_luma"), 1L).otherwise(0L)).as("n_bad_luma"),
          sum(when(!col("ok_aspect"), 1L).otherwise(0L)).as("n_bad_aspect"))
        .withColumn("pass_rate",
          round(col("n_pass").cast("double") / col("n"), 6))
        .orderBy("source")
    },
    Some("""WITH h AS (
              SELECT doc_id, source, CAST(strlen(text) AS INTEGER) AS n_bytes,
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(text) + 1),
                                   i -> CAST(ascii(text[i]) AS BIGINT))),
                  (acc, ch) -> (acc * 31 + ch) % 1000000007) AS acc
              FROM documents),
            f AS (
              SELECT source,
                CAST(acc % 640 AS INTEGER) AS width,
                CAST((acc // 640) % 480 AS INTEGER) AS height,
                n_bytes,
                CAST(acc % 256 AS DOUBLE) / 255.0 AS mean_luma
              FROM h),
            g AS (
              SELECT source,
                (width >= 64 AND height >= 64) AS ok_dims,
                (n_bytes >= 100) AS ok_bytes,
                (mean_luma >= 0.05 AND mean_luma <= 0.95) AS ok_luma,
                (CAST(greatest(width, height) AS DOUBLE)
                   / greatest(least(width, height), 1) <= 4.0) AS ok_aspect
              FROM f)
            SELECT source, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CASE WHEN ok_dims AND ok_bytes AND ok_luma AND ok_aspect
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
              CAST(sum(CASE WHEN NOT ok_dims THEN 1 ELSE 0 END) AS BIGINT)
                AS n_bad_dims,
              CAST(sum(CASE WHEN NOT ok_bytes THEN 1 ELSE 0 END) AS BIGINT)
                AS n_bad_bytes,
              CAST(sum(CASE WHEN NOT ok_luma THEN 1 ELSE 0 END) AS BIGINT)
                AS n_bad_luma,
              CAST(sum(CASE WHEN NOT ok_aspect THEN 1 ELSE 0 END) AS BIGINT)
                AS n_bad_aspect,
              round(CAST(sum(CASE WHEN ok_dims AND ok_bytes AND ok_luma
                       AND ok_aspect THEN 1 ELSE 0 END) AS DOUBLE)
                / count(*), 6) AS pass_rate
            FROM g GROUP BY source ORDER BY source"""))

  /** m12 — cross-clip duplicate-frame census (the frame-granular form
    * of video dedup: Wu et al., "Practical elimination of
    * near-duplicates from web video search", ACM MM 2007 use keyframe
    * signatures; here every FULL 64-byte frame of the media blob is
    * hashed and frames shared across distinct clips are counted) —
    * catches re-encoded intros, stock footage, and copy-pasted
    * segments that whole-file digests (m01) and perceptual hashes
    * (m05) both miss when only a SEGMENT repeats.
    *
    * Determinism: frame hashes are md5 of exact byte slices; all
    * counts are exact integers; dup_ppm is the exact integer
    * (10⁶·n_dup) DIV n_frames.
    *
    * Scale shape: framing/hashing is IN-ROW (d19's discipline — one
    * generator, no shuffle); the only exchanges are the frame-hash
    * census agg and the hash-keyed join back, both equi on a 32-char
    * key. Frame count per doc is length/64-bounded, so fan-out is
    * linear in corpus bytes — the same cost envelope as reading it. */
  val frameDedup: QueryDef = {
    val frame = 64
    QueryDef(
      "m12_frame_dedup",
      (s, d) => {
        val frames = mediaFrame(s, d)
          .select(col("doc_id"), col("blob").cast("string").as("pcm"))
          .select(col("doc_id"),
            expr(s"CAST(length(pcm) DIV $frame AS INT)").as("n_frames"),
            col("pcm"))
          .filter(col("n_frames") > 0)
          .select(col("doc_id"), col("n_frames"),
            explode(expr("sequence(0, n_frames - 1)")).as("idx"),
            col("pcm"))
          .select(col("doc_id"), col("n_frames"),
            expr(s"md5(substring(pcm, idx * $frame + 1, $frame))")
              .as("fh"))
        val census = frames.groupBy("fh")
          .agg(countDistinct(col("doc_id")).as("n_docs"))
        frames.join(census, Seq("fh"))
          .groupBy("doc_id")
          .agg(max(col("n_frames")).as("n_frames"),
            sum(when(col("n_docs") > 1, 1L).otherwise(0L))
              .as("n_dup_frames"),
            countDistinct(when(col("n_docs") > 1, col("fh")))
              .as("n_dup_hashes"))
          .withColumn("dup_ppm",
            expr("(1000000 * n_dup_frames) DIV n_frames"))
          .orderBy("doc_id")
      },
      Some(s"""WITH fr AS (
                 SELECT doc_id,
                   CAST(length(text) // $frame AS INTEGER) AS n_frames,
                   md5(text[i * $frame + 1 : i * $frame + $frame]) AS fh
                 FROM documents,
                   unnest(range(0, length(text) // $frame)) AS u(i)),
               census AS (
                 SELECT fh, count(DISTINCT doc_id) AS n_docs
                 FROM fr GROUP BY 1)
               SELECT doc_id, max(n_frames) AS n_frames,
                 CAST(sum(CASE WHEN census.n_docs > 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_dup_frames,
                 CAST(count(DISTINCT CASE WHEN census.n_docs > 1
                   THEN fr.fh END) AS BIGINT) AS n_dup_hashes,
                 (1000000 * CAST(sum(CASE WHEN census.n_docs > 1
                   THEN 1 ELSE 0 END) AS BIGINT)) // max(n_frames)
                   AS dup_ppm
               FROM fr JOIN census USING (fh)
               GROUP BY doc_id ORDER BY doc_id"""))
  }

  /** m13 — keyframe selection: segment each video-style blob into
    * shots with m08's cut detector, then pick each shot's
    * REPRESENTATIVE frame as the energy argmax (the standard
    * "key frame = most salient frame per shot" reduction every video
    * indexing/thumbnailing pipeline runs after boundary detection —
    * Boreczky & Rowe JEI 1996 for the cuts, argmax-saliency selection
    * as in Zhang, Kankanhalli & Smoliar, "Automatic partitioning of
    * full-motion video", MMSJ 1993). Per shot: start frame, length,
    * keyframe index and its energy.
    *
    * Determinism: shot ids are exact cumulative cut counts over the
    * total (doc, idx) order; the argmax breaks energy ties toward the
    * EARLIEST frame (row_number over energy desc, idx asc — Zhang's
    * convention); all energies are exact integer sums.
    *
    * Scale shape: identical to m08 — the frame explode is narrow
    * (in-scan sequence + substring), and the lag, cumulative-cut,
    * per-shot-argmax windows and the final agg ALL partition by
    * doc_id: ONE shuffle on the video key end to end. A real decoder
    * slots in at m02's mapPartitions stage with no downstream change. */
  val keyframeSelect: QueryDef = {
    val frame = 64
    val tau = 100L
    QueryDef(
      "m13_keyframe_select",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val frames = mediaFrame(s, d)
          .select(col("doc_id"), col("blob").cast("string").as("pcm"))
          .select(col("doc_id"),
            expr(s"CAST(length(pcm) DIV $frame AS INT)").as("n_frames"),
            col("pcm"))
          .filter(col("n_frames") > 0)
          .select(col("doc_id"),
            posexplode(expr("sequence(0, n_frames - 1)")).as(Seq("ord", "idx")),
            col("pcm"))
          .select(col("doc_id"), col("idx"),
            expr(s"aggregate(split(substring(pcm, idx * $frame + 1, $frame), ''), " +
              "CAST(0 AS BIGINT), (acc, ch) -> acc + ascii(ch))").as("energy"))
        val byDoc = Window.partitionBy("doc_id").orderBy("idx")
        val shots = frames
          .withColumn("dl",
            abs(col("energy") - lag(col("energy"), 1).over(byDoc)))
          .withColumn("cut", when(col("dl") > tau, 1L).otherwise(0L))
          .withColumn("shot_id", sum(col("cut")).over(
            byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val w = Window.partitionBy("doc_id", "shot_id")
          .orderBy(col("energy").desc, col("idx"))
        shots.withColumn("rn", row_number().over(w))
          .groupBy("doc_id", "shot_id")
          .agg(min(col("idx")).as("shot_start"),
            count(lit(1)).as("n_frames_in_shot"),
            max(when(col("rn") === 1, col("idx"))).as("key_idx"),
            max(when(col("rn") === 1, col("energy"))).as("key_energy"))
          .orderBy("doc_id", "shot_id")
      },
      Some(s"""WITH fr AS (
                 SELECT doc_id, CAST(i AS INTEGER) AS idx,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(1, $frame + 1),
                         j -> CAST(ascii((text[i * $frame + 1 : i * $frame + $frame])[j])
                                   AS BIGINT))),
                     (acc, ch) -> acc + ch) AS energy
                 FROM documents,
                   unnest(range(0, length(text) // $frame)) AS u(i)),
               c AS (
                 SELECT doc_id, idx, energy,
                   CASE WHEN abs(energy - lag(energy) OVER (
                       PARTITION BY doc_id ORDER BY idx)) > $tau
                     THEN 1 ELSE 0 END AS cut
                 FROM fr),
               sh AS (
                 SELECT doc_id, idx, energy,
                   CAST(sum(cut) OVER (PARTITION BY doc_id ORDER BY idx
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS shot_id
                 FROM c),
               r AS (
                 SELECT *, row_number() OVER (PARTITION BY doc_id, shot_id
                   ORDER BY energy DESC, idx) AS rn
                 FROM sh)
               SELECT doc_id, shot_id,
                 CAST(min(idx) AS INTEGER) AS shot_start,
                 CAST(count(*) AS BIGINT) AS n_frames_in_shot,
                 CAST(max(CASE WHEN rn = 1 THEN idx END) AS INTEGER)
                   AS key_idx,
                 CAST(max(CASE WHEN rn = 1 THEN energy END) AS BIGINT)
                   AS key_energy
               FROM r GROUP BY 1, 2 ORDER BY doc_id, shot_id"""))
  }

  /** m14 — silence-run statistics over the m06 frame energies (the
    * speech-curation readout next to m09's VAD: a long silent run
    * means dead air to trim, many short runs mean choppy audio to
    * flag): a frame is "silent" when its energy is below 0.9× the
    * doc's mean frame energy, runs are consecutive silent frames
    * (gaps-and-islands over the frame index, q50's idiom), and the
    * per-doc readout is run count, longest run, and silent ppm.
    *
    * Determinism: the threshold test is the pure integer
    * cross-multiply 10·energy·n_frames < 9·sum_energy — no mean is
    * ever materialized as a float (the r12 Fixed discipline). Scale
    * shape: one frame explode (chars-linear), windows and aggregates
    * keyed by doc_id — zero cross-doc shuffles beyond the doc key. */
  val silenceRuns: QueryDef = {
    val frame = 64
    QueryDef(
      "m14_audio_silence_runs",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val frames = mediaFrame(s, d)
          .select(col("doc_id"), col("blob").cast("string").as("pcm"))
          .select(col("doc_id"),
            expr(s"CAST(ceil(length(pcm) / $frame.0) AS INT)").as("n_frames"),
            col("pcm"))
          .filter(col("n_frames") > 0)
          .select(col("doc_id"), col("n_frames"),
            posexplode(expr("sequence(0, n_frames - 1)")).as(Seq("ord", "idx")),
            col("pcm"))
          .select(col("doc_id"), col("n_frames"), col("idx"),
            expr(s"aggregate(split(substring(pcm, idx * $frame + 1, $frame), ''), " +
              "CAST(0 AS BIGINT), (acc, ch) -> acc + ascii(ch))").as("energy"))
        val flagged = frames
          .withColumn("sum_energy",
            sum(col("energy")).over(Window.partitionBy("doc_id")))
          .withColumn("silent", expr(
            "CAST(10 * energy * n_frames < 9 * sum_energy AS INT)"))
        val runs = flagged.filter(col("silent") === 1)
          .withColumn("grp", expr("idx - " +
            "(row_number() OVER (PARTITION BY doc_id ORDER BY idx))"))
          .groupBy("doc_id", "grp")
          .agg(count(lit(1)).as("run_len"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_runs"),
            max(col("run_len")).as("longest_run"),
            sum(col("run_len")).as("n_silent"))
        flagged.groupBy("doc_id")
          .agg(max(col("n_frames")).as("n_frames"))
          .join(runs, Seq("doc_id"), "left")
          .na.fill(0L, Seq("n_runs", "longest_run", "n_silent"))
          .withColumn("silent_ppm",
            expr("(1000000 * n_silent) DIV n_frames"))
          .select("doc_id", "n_frames", "n_silent", "n_runs",
            "longest_run", "silent_ppm")
          .orderBy("doc_id")
      },
      Some(s"""WITH fr AS (
                 SELECT doc_id,
                   CAST(ceil(length(text) / $frame.0) AS INTEGER) AS n_frames,
                   i AS idx,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(
                         range(1, length(text[i * $frame + 1 : i * $frame + $frame]) + 1),
                         j -> CAST(ascii((text[i * $frame + 1 : i * $frame + $frame])[j])
                                   AS BIGINT))),
                     (acc, ch) -> acc + ch) AS energy
                 FROM documents,
                   unnest(range(0, CAST(ceil(length(text) / $frame.0) AS BIGINT)))
                     AS u(i)),
               fl AS (
                 SELECT *, sum(energy) OVER (PARTITION BY doc_id)
                   AS sum_energy
                 FROM fr),
               sil AS (
                 SELECT doc_id, n_frames, idx,
                   idx - row_number() OVER (PARTITION BY doc_id
                     ORDER BY idx) AS grp
                 FROM fl WHERE 10 * energy * n_frames < 9 * sum_energy),
               rn AS (
                 SELECT doc_id, grp, count(*) AS run_len
                 FROM sil GROUP BY 1, 2),
               agg AS (
                 SELECT doc_id, count(*) AS n_runs,
                   max(run_len) AS longest_run,
                   CAST(sum(run_len) AS BIGINT) AS n_silent
                 FROM rn GROUP BY 1),
               base AS (
                 SELECT doc_id, max(n_frames) AS n_frames FROM fl GROUP BY 1)
               SELECT b.doc_id, b.n_frames,
                 coalesce(a.n_silent, 0) AS n_silent,
                 coalesce(a.n_runs, 0) AS n_runs,
                 coalesce(a.longest_run, 0) AS longest_run,
                 (1000000 * coalesce(a.n_silent, 0)) // b.n_frames
                   AS silent_ppm
               FROM base b LEFT JOIN agg a ON a.doc_id = b.doc_id
               ORDER BY b.doc_id"""))
  }

  /** m15 — crest-factor / dynamic-range audit over the frame energies
    * (the loudness-QA readout audio curation runs before training:
    * crest factor = peak/RMS — a ratio near 1 means flat/clipped or
    * constant-tone material, a high ratio means isolated spikes in
    * near-silence; EBU R128-style pipelines gate on exactly this
    * before feature extraction): per doc, peak frame energy, energy
    * sums, and crest² as the EXACT integer ppm ratio
    * 10⁶·n·peak² DIV Σe² — squaring both sides of peak/RMS clears the
    * sqrt, so no float ever appears (the st16 discipline).
    *
    * Verdict bands: crest² ≤ 1.2 → 'flat' (clipped/constant), > 4 →
    * 'spiky', else 'normal'. Scale shape: the m06/m14 frame explode
    * (corpus-linear, in-row energy fold) into ONE doc-keyed agg —
    * no window, no join. */
  val crestFactor: QueryDef = {
    val frame = 64
    QueryDef(
      "m15_audio_crest_factor",
      (s, d) => {
        val frames = mediaFrame(s, d)
          .select(col("doc_id"), col("blob").cast("string").as("pcm"))
          .select(col("doc_id"),
            expr(s"CAST(ceil(length(pcm) / $frame.0) AS INT)").as("n_frames"),
            col("pcm"))
          .filter(col("n_frames") > 0)
          .select(col("doc_id"), col("n_frames"),
            posexplode(expr("sequence(0, n_frames - 1)")).as(Seq("ord", "idx")),
            col("pcm"))
          .select(col("doc_id"), col("n_frames"),
            expr(s"aggregate(split(substring(pcm, idx * $frame + 1, $frame), ''), " +
              "CAST(0 AS BIGINT), (acc, ch) -> acc + ascii(ch))").as("energy"))
        frames.groupBy("doc_id")
          .agg(max(col("n_frames")).cast("long").as("n_frames"),
            max(col("energy")).as("peak_e"),
            sum(col("energy")).as("sum_e"),
            sum(expr("energy * energy")).as("sum_e2"))
          .withColumn("crest2_ppm",
            expr("""CASE WHEN sum_e2 = 0 THEN CAST(0 AS BIGINT)
                    ELSE (1000000 * n_frames * peak_e * peak_e) DIV sum_e2
                    END"""))
          .withColumn("verdict",
            expr("""CASE WHEN crest2_ppm <= 1200000 THEN 'flat'
                    WHEN crest2_ppm > 4000000 THEN 'spiky'
                    ELSE 'normal' END"""))
          .select("doc_id", "n_frames", "peak_e", "sum_e", "crest2_ppm",
            "verdict")
          .orderBy("doc_id")
      },
      Some(s"""WITH fr AS (
                 SELECT doc_id,
                   CAST(ceil(length(text) / $frame.0) AS INTEGER) AS n_frames,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(
                         range(1, length(text[i * $frame + 1 : i * $frame + $frame]) + 1),
                         j -> CAST(ascii((text[i * $frame + 1 : i * $frame + $frame])[j])
                                   AS BIGINT))),
                     (acc, ch) -> acc + ch) AS energy
                 FROM documents,
                   unnest(range(0, CAST(ceil(length(text) / $frame.0) AS BIGINT)))
                     AS u(i)),
               a AS (
                 SELECT doc_id, CAST(max(n_frames) AS BIGINT) AS n_frames,
                   CAST(max(energy) AS BIGINT) AS peak_e,
                   CAST(sum(energy) AS BIGINT) AS sum_e,
                   CAST(sum(energy * energy) AS BIGINT) AS sum_e2
                 FROM fr GROUP BY 1),
               b AS (
                 SELECT doc_id, n_frames, peak_e, sum_e,
                   CASE WHEN sum_e2 = 0 THEN CAST(0 AS BIGINT)
                     ELSE (1000000 * n_frames * peak_e * peak_e) // sum_e2
                     END AS crest2_ppm
                 FROM a)
               SELECT doc_id, n_frames, peak_e, sum_e, crest2_ppm,
                 CASE WHEN crest2_ppm <= 1200000 THEN 'flat'
                   WHEN crest2_ppm > 4000000 THEN 'spiky'
                   ELSE 'normal' END AS verdict
               FROM b ORDER BY doc_id"""))
  }

  /** m16 — container-format sniff census (the multimodal INGEST
    * validation every media pipeline runs before decode: file
    * extensions lie — upload forms, renamed files, CDN rewrites — but
    * magic bytes don't, so ingest classifies by header bytes and
    * audits the (declared extension × sniffed format) confusion
    * matrix; cf. `file`/libmagic and the HTML5 MIME-sniffing spec's
    * byte-pattern table). The fixture plants DETERMINISTIC fake magics
    * (ASCII stand-ins for \\x89PNG/JFIF/RIFF-WAVE/GIF89a — the
    * m-family stub discipline: the codec bytes are fake, the
    * Spark-side plumbing and the sniff logic are real and
    * oracle-checked) and a deliberately misaligned declared-extension
    * cycle (mod-5 magic vs mod-7 extension) so the mismatch census is
    * non-trivial.
    *
    * Scale shape: one projection scan into a ≤ 5×7 census — zero
    * shuffles beyond the bounded agg; the sniff itself is a prefix
    * compare, exactly what it costs at 100 TB. */
  val formatSniff: QueryDef = {
    def sniffCase(blobCol: String): String =
      s"""CASE WHEN $blobCol LIKE 'PNG89%' THEN 'png'
            WHEN $blobCol LIKE 'JFIF%' THEN 'jpg'
            WHEN $blobCol LIKE 'RIFFWAVE%' THEN 'wav'
            WHEN $blobCol LIKE 'GIF89a%' THEN 'gif'
            ELSE 'unknown' END"""
    QueryDef(
      "m16_format_sniff",
      (s, d) => {
        val tagged = Tables.documents(s, d).selectExpr(
          "doc_id",
          "element_at(array('png','jpg','wav','gif','txt','bin','mp4'), " +
            "CAST(doc_id % 7 + 1 AS INT)) AS declared_ext",
          "concat(element_at(array('PNG89','JFIF','RIFFWAVE','GIF89a'," +
            "'TEXT!'), CAST(doc_id % 5 + 1 AS INT)), text) AS blob")
        tagged
          .selectExpr("doc_id", "declared_ext",
            s"${sniffCase("blob")} AS sniffed_fmt")
          .groupBy("declared_ext", "sniffed_fmt")
          .agg(count(lit(1)).as("n"),
            max(expr(
              """CAST(CASE WHEN declared_ext = sniffed_fmt
                 THEN 0 ELSE 1 END AS BIGINT)""")).as("is_mismatch"))
          .orderBy("declared_ext", "sniffed_fmt")
      },
      Some(s"""WITH tagged AS (
                 SELECT doc_id,
                   (['png','jpg','wav','gif','txt','bin','mp4'])
                     [CAST(doc_id % 7 + 1 AS INTEGER)] AS declared_ext,
                   concat((['PNG89','JFIF','RIFFWAVE','GIF89a','TEXT!'])
                     [CAST(doc_id % 5 + 1 AS INTEGER)], text) AS blob
                 FROM documents),
               sn AS (
                 SELECT declared_ext, ${sniffCase("blob")} AS sniffed_fmt
                 FROM tagged)
               SELECT declared_ext, sniffed_fmt,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(max(CASE WHEN declared_ext = sniffed_fmt
                   THEN 0 ELSE 1 END) AS BIGINT) AS is_mismatch
               FROM sn GROUP BY 1, 2
               ORDER BY declared_ext, sniffed_fmt"""))
  }

  val all: Seq[QueryDef] =
    Seq(metaDigest, decode, resizeSample, embedTopk, phashNearDup,
      audioFrameEnergy, crossmodalRetrieval, shotBoundaries, audioVad,
      tileEntropy, qualityGate, frameDedup, keyframeSelect, silenceRuns,
      crestFactor, formatSniff)
}
