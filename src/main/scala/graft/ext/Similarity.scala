package graft.ext

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector

import graft.core.Tables
import graft.queries.QueryDef

/** Similarity search over the embeddings table (SURVEY §2.9 extended
  * surface): brute-force cosine top-k as the exact baseline, and a
  * random-projection LSH bucketed variant as the 100 TB scale path.
  */
object Similarity {

  /** Session-memoized pinned-IVF index stage — the (id, cluster, u)
    * assignment of the whole corpus to the 16 pinned low-id centroids,
    * `localCheckpoint`ed ONCE per (session, data dir) and consumed by
    * the index-health compositions that layer on s03b's index (s13
    * probe sweep, s17 cell balance). Same discipline as Dedup's
    * ngramSharedStage (the x12/x19/x28/x34 fix VERDICT r9 asked for):
    * the canonical operator s03b still builds its own un-materialized
    * plan — it IS the stage's plan documentation and its focused bench
    * times the real work — while the compositions read the
    * materialized index, which is the production pattern anyway (an
    * IVF index is BUILT once and audited/tuned many times, not
    * re-assigned per diagnostic).
    *
    * Memory/lifecycle: corpus-row-count × (id, cluster, 64 doubles) —
    * the index itself, orders of magnitude under the corpora the
    * engine targets; keyed by the owning SparkSession so checkpoint
    * blocks die with their session — entries evict on applicationEnd
    * ([[graft.core.SessionScoped]]), inputs assumed immutable for the
    * session (its staleness contract). */
  private[graft] val pinnedStageCache =
    new graft.core.SessionScoped[org.apache.spark.sql.DataFrame]()

  def pinnedAssigned(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    pinnedStageCache.getOrCompute(s, d)({ case (ss, dir) =>
      graft.expr.ArrayDot.register(ss)
      Dedup.assignClusters(Dedup.normalized(ss, dir, "id", "u"), 16)
        .localCheckpoint()
    })

  /** s01 — brute-force cosine top-k. Query set (vec_id < 10) is broadcast
    * against all candidates; per-query top-5 via a ranking window.
    * Cosine is the same sequential double fold on both engines →
    * bit-identical, so the top-k ordering agrees exactly (nid tiebreak).
    * Scale shape: broadcast the (bounded) query set, never shuffle the
    * corpus; the window partitions by query id. */
  val cosineTopK: QueryDef = {
    val k = 5
    QueryDef(
      "s01_cosine_topk",
      (s, d) => {
        graft.expr.ArrayDot.register(s)
        val q = Dedup.normalized(s, d, "q_id", "q_u").filter(col("q_id") < 10)
        val c = Dedup.normalized(s, d, "n_id", "n_u")
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("n_id"))
        broadcast(q).join(c, col("q_id") =!= col("n_id"))
          .withColumn("cos_sim", expr("array_dot(q_u, n_u)"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= k)
          .select("q_id", "n_id", "cos_sim", "rn")
          .orderBy("q_id", "rn")
      },
      Some(s"""WITH ${Dedup.normalizedSql},
               p AS (
                 SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                   ${Dedup.pairDotSql} AS cos_sim
                 FROM u a JOIN u b ON a.vec_id < 10 AND b.vec_id != a.vec_id),
               r AS (
                 SELECT q_id, n_id, cos_sim,
                   CAST(row_number() OVER (PARTITION BY q_id
                        ORDER BY cos_sim DESC, n_id) AS INTEGER) AS rn
                 FROM p)
               SELECT q_id, n_id, cos_sim, rn FROM r WHERE rn <= $k
               ORDER BY q_id, rn"""))
  }

  /** s02 — approximate nearest neighbors via random-projection LSH
    * (euclidean family). Seeded and deterministic, but the hash family is
    * engine-specific → rows-only check. At 100 TB the bucket join touches
    * only same-bucket candidates instead of the full cross product. */
  val annLsh: QueryDef = QueryDef(
    "s02_ann_lsh",
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"),
          array_to_vector(col("embedding").cast("array<double>")).as("features"))
      val lsh = new BucketedRandomProjectionLSH()
        .setInputCol("features").setOutputCol("hashes")
        .setBucketLength(2.0).setNumHashTables(4).setSeed(42)
      val model = lsh.fit(e)
      val q = e.filter(col("vec_id") < 10)
      model.approxSimilarityJoin(q, e, 1.5, "euclid_dist")
        .select(
          col("datasetA.vec_id").as("q_id"),
          col("datasetB.vec_id").as("n_id"),
          col("euclid_dist"))
        .filter(col("q_id") =!= col("n_id"))
        .orderBy("q_id", "n_id")
    },
    None)

  /** s04 — ORACLE-EXACT hyperplane-LSH ANN (the sign-random-projection
    * of Charikar 2002, as s02 is rows-only because spark.ml's projection
    * vectors are engine-private). The ±1 projection matrix is generated
    * ONCE here from a pinned seed and rendered as literals into BOTH the
    * Spark expression and the DuckDB SQL, so the two sides cannot drift;
    * bucket = 8 sign bits of dot(emb, plane_p). Candidates come from the
    * bucket equi-join only (the bounded query set broadcast against
    * same-bucket corpus rows — the 100 TB shape), scored with the same
    * sequential double fold both engines use bit-identically. */
  val annHyperplane: QueryDef = {
    val planes = 8; val dims = 64; val seed = 20260812
    val rnd = new scala.util.Random(seed)
    val signs: Seq[Seq[Boolean]] =
      Seq.fill(planes)(Seq.fill(dims)(rnd.nextBoolean()))
    def sparkArr(p: Int) = signs(p)
      .map(v => if (v) "1.0D" else "-1.0D").mkString("array(", ", ", ")")
    def duckArr(p: Int) = signs(p)
      .map(v => if (v) "1.0" else "-1.0").mkString("[", ", ", "]")
    val sparkBucket = (0 until planes).map(p =>
      s"(CASE WHEN aggregate(zip_with(emb, ${sparkArr(p)}, (x, y) -> x * y)" +
        s", 0D, (acc, v) -> acc + v) > 0 THEN ${1 << p} ELSE 0 END)")
      .mkString(" + ")
    val duckBucket = (0 until planes).map(p =>
      s"(CASE WHEN list_reduce(list_prepend(0.0, list_transform(" +
        s"range(1, ${dims + 1}), i -> emb[i] * (${duckArr(p)})[i]))" +
        s", (x, y) -> x + y) > 0 THEN ${1 << p} ELSE 0 END)")
      .mkString(" + ")
    QueryDef(
      "s04_ann_hyperplane",
      (s, d) => {
        graft.expr.ArrayDot.register(s)
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
          // fail fast on a dims mismatch: the plane literals are pinned to
          // `dims`, and zip_with would silently NULL-pad a shorter/longer
          // vector (bucket 0 for every row) while the DuckDB mirror indexes
          // only the first `dims` elements — a silent divergence; a loud
          // error beats both
          .withColumn("bucket", expr(
            s"IF(size(emb) = $dims, $sparkBucket, " +
              s"CAST(raise_error('s04: embedding dims != $dims') AS INT))"))
        val withU = Dedup.unitized(e, Seq(col("vec_id"), col("bucket")), "u")
        val q = withU.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("bucket"), col("u").as("q_u"))
        val c = withU
          .select(col("vec_id").as("n_id"), col("bucket"), col("u").as("n_u"))
        broadcast(q).join(c, Seq("bucket"))
          .filter(col("q_id") =!= col("n_id"))
          .withColumn("cos_sim", expr("array_dot(q_u, n_u)"))
          .select("q_id", "n_id", "cos_sim")
          .orderBy("q_id", "n_id")
      },
      Some(s"""WITH e AS (
                 SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                 FROM embeddings),
               bk AS (SELECT vec_id, emb, $duckBucket AS bucket FROM e),
               ${Dedup.unitNormSql("bk", ", bucket")}
               SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                 ${Dedup.pairDotSql} AS cos_sim
               FROM u a JOIN u b
                 ON a.bucket = b.bucket AND a.vec_id < 10
                 AND b.vec_id != a.vec_id
               ORDER BY q_id, n_id"""))
  }

  /** s05 — int8 scalar-quantized cosine top-k (the memory-bound ANN
    * path: a 100 TB float corpus is 25 TB at int8, and integer dot
    * products vectorize wider than float ones — the standard first step
    * before PQ, e.g. Jégou et al., "Product quantization for nearest
    * neighbor search", TPAMI 2011 §III.A). Unit-normalize, quantize each
    * component to round(u·127), score by INTEGER dot product — exact
    * long arithmetic end to end, so unlike the float-scoring s02
    * this approximate index is ORACLE-EXACT: ranking, ties, and scores
    * all hash-check against DuckDB.
    *
    * Same scale shape as s01: bounded query set broadcast, corpus never
    * shuffled, per-query top-k via a ranking window (WindowGroupLimit
    * prunes map-side). The spec measures recall@5 against exact s01. */
  val annInt8: QueryDef = {
    val k = 5
    val quantExpr = "transform(%s, x -> CAST(round(x * 127) AS BIGINT))"
    val dotExpr =
      """aggregate(zip_with(q_q, n_q, (x, y) -> x * y),
         CAST(0 AS BIGINT), (acc, v) -> acc + v)"""
    QueryDef(
      "s05_ann_int8",
      (s, d) => {
        val q = Dedup.normalized(s, d, "q_id", "q_u")
          .filter(col("q_id") < 10)
          .select(col("q_id"), expr(quantExpr.format("q_u")).as("q_q"))
        val c = Dedup.normalized(s, d, "n_id", "n_u")
          .select(col("n_id"), expr(quantExpr.format("n_u")).as("n_q"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("q_dot").desc, col("n_id"))
        broadcast(q).join(c, col("q_id") =!= col("n_id"))
          .withColumn("q_dot", expr(dotExpr))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= k)
          .withColumn("approx_cos",
            expr("CAST(q_dot AS DOUBLE) / CAST(16129 AS DOUBLE)"))
          .select("q_id", "n_id", "q_dot", "approx_cos", "rn")
          .orderBy("q_id", "rn")
      },
      Some(s"""WITH ${Dedup.normalizedSql},
               q AS (
                 SELECT vec_id,
                   list_transform(u, x -> CAST(round(x * 127) AS BIGINT)) AS qv
                 FROM u),
               p AS (
                 SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, len(a.qv) + 1),
                       i -> a.qv[i] * b.qv[i])),
                     (x, y) -> x + y) AS q_dot
                 FROM q a JOIN q b ON a.vec_id < 10 AND b.vec_id != a.vec_id),
               r AS (
                 SELECT q_id, n_id, q_dot,
                   CAST(row_number() OVER (PARTITION BY q_id
                        ORDER BY q_dot DESC, n_id) AS INTEGER) AS rn
                 FROM p)
               SELECT q_id, n_id, q_dot,
                 CAST(q_dot AS DOUBLE) / CAST(16129 AS DOUBLE) AS approx_cos,
                 rn
               FROM r WHERE rn <= $k
               ORDER BY q_id, rn"""))
  }

  /** s03b — ORACLE-EXACT IVF (inverted-file) approximate nearest
    * neighbors (coarse quantization as in Jégou, Douze, Schmid, "Product
    * quantization for nearest neighbor search", TPAMI 2011):
    * coarse-quantize the corpus, probe only the query's `nprobe` nearest
    * cells. The quantizer is d13's pinned DATA centroids (the first
    * `kCentroids` corpus vectors by id), not engine-seeded KMeans state,
    * and cell assignment / probe ranking use the max-dot fold both
    * engines compute bit-identically with the (dot DESC, centroid id
    * ASC) tiebreak.
    *
    * Scale shape: bounded centroid set broadcast for
    * the corpus assignment (narrow map), bounded probe set broadcast
    * into an equi join on cell id — each query scans ~nprobe/k of the
    * corpus, and the corpus itself never shuffles. */
  val annIvfPinned: QueryDef = {
    val kCentroids = 16; val nprobe = 4; val topK = 5
    val centDotSql = "list_dot_product(u.u, c.c_u)"
    QueryDef(
      "s03b_ann_ivf_pinned",
      (s, d) => {
        graft.expr.ArrayDot.register(s)
        val u = Dedup.normalized(s, d, "id", "u")
        // corpus index: one broadcast-centroid assignment, shared by the
        // probe side (queries are corpus vectors) and the cell scan
        val assigned = Dedup.assignClusters(u, kCentroids).localCheckpoint()
        val cents = u.filter(col("id") < kCentroids)
          .select(col("id").as("c_id"), col("u").as("c_u"))
        val byDot = Window.partitionBy(col("q_id"))
          .orderBy(col("c_dot").desc, col("c_id"))
        val probes = assigned.filter(col("id") < 10)
          .select(col("id").as("q_id"), col("u").as("q_u"))
          .crossJoin(broadcast(cents))
          .withColumn("c_dot", expr("array_dot(q_u, c_u)"))
          .withColumn("crn", row_number().over(byDot))
          .filter(col("crn") <= nprobe)
          .select(col("q_id"), col("q_u"), col("c_id").as("cluster"))
        val corpus = assigned
          .select(col("id").as("n_id"), col("cluster"), col("u").as("n_u"))
        val byCos = Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("n_id"))
        broadcast(probes).join(corpus, Seq("cluster"))
          .filter(col("q_id") =!= col("n_id"))
          .withColumn("cos_sim", expr("array_dot(q_u, n_u)"))
          .withColumn("rn", row_number().over(byCos))
          .filter(col("rn") <= topK)
          .select("q_id", "n_id", "cos_sim", "rn")
          .orderBy("q_id", "rn")
      },
      Some(s"""WITH ${Dedup.normalizedSql},
               cents AS (
                 SELECT vec_id AS c_id, u AS c_u FROM u
                 WHERE vec_id < $kCentroids),
               ad AS (
                 SELECT u.vec_id, c.c_id, $centDotSql AS c_dot
                 FROM u, cents c),
               asg AS (
                 SELECT vec_id, c_id AS cluster FROM (
                   SELECT vec_id, c_id,
                     row_number() OVER (PARTITION BY vec_id
                       ORDER BY c_dot DESC, c_id) AS crn
                   FROM ad)
                 WHERE crn = 1),
               probes AS (
                 SELECT vec_id AS q_id, c_id AS cluster FROM (
                   SELECT vec_id, c_id,
                     row_number() OVER (PARTITION BY vec_id
                       ORDER BY c_dot DESC, c_id) AS crn
                   FROM ad WHERE vec_id < 10)
                 WHERE crn <= $nprobe),
               p AS (
                 SELECT pr.q_id, b.vec_id AS n_id,
                   ${Dedup.pairDotSql} AS cos_sim
                 FROM probes pr
                 JOIN asg sb ON sb.cluster = pr.cluster
                   AND sb.vec_id != pr.q_id
                 JOIN u a ON a.vec_id = pr.q_id
                 JOIN u b ON b.vec_id = sb.vec_id),
               r AS (
                 SELECT q_id, n_id, cos_sim,
                   CAST(row_number() OVER (PARTITION BY q_id
                        ORDER BY cos_sim DESC, n_id) AS INTEGER) AS rn
                 FROM p)
               SELECT q_id, n_id, cos_sim, rn FROM r WHERE rn <= $topK
               ORDER BY q_id, rn"""))
  }

  /** s06 — product quantization with asymmetric distance computation
    * (Jégou, Douze, Schmid, "Product quantization for nearest neighbor
    * search", TPAMI 2011): the memory-bound ANN path proper. Each
    * 64-dim unit vector is split into 4 subvectors of 16 dims; per
    * subspace a 16-entry codebook (the SUBVECTORS of the first 16
    * corpus vectors — pinned DATA, the d13/s03b trick, which is what
    * makes PQ oracle-expressible) quantizes the corpus to a 4-byte
    * code. A query never touches the corpus floats: it precomputes a
    * 4×16 dot TABLE against the codebooks and scores every code by 4
    * table lookups — at 100 TB the corpus index is 16 bytes/vector
    * (codes) instead of 256 (floats), and scoring is lookup+add.
    *
    * Determinism contract: per-subspace assignment is the same
    * sequential squared-L2 fold both engines share, argmin with strict
    * `<` over ascending centroid ids (= (dist ASC, cid ASC) tiebreak);
    * the ADC sum is written as the explicit left-associated
    * `t0 + t1 + t2 + t3` in BOTH engines, so the doubles are
    * bit-identical end to end.
    *
    * Scale shape: codebooks are driver-rendered literals (bounded, the
    * assignClusters pattern) so corpus encoding is a narrow shuffle-free
    * map; the bounded query table broadcasts; per-query top-k via the
    * map-side-pruned ranking window. */
  val annPqAdc: QueryDef = {
    val m = 4; val dsub = 16; val kCode = 16; val topK = 5
    // a named def, not a lambda body: the empty-corpus guard below uses
    // an early `return`, which inside a lambda would throw
    // NonLocalReturnControl at runtime
    def build(s: org.apache.spark.sql.SparkSession,
        d: String): org.apache.spark.sql.DataFrame = {
        val u = Dedup.normalized(s, d, "id", "u")
        val cb = u.filter(col("id") < kCode)
          .select(col("id"), col("u")).collect()
          .map(r => r.getLong(0) -> r.getSeq[Double](1)).sortBy(_._1)
        // same contract as assignClusters: empty corpus → empty result
        // (matching the oracle's empty cb CTE); non-empty corpus with no
        // low-id codebook vectors → loud misconfiguration failure
        if (cb.isEmpty) {
          require(u.isEmpty,
            s"non-empty corpus has no codebook vectors with id < $kCode")
          return u.filter(lit(false))
            .select(col("id").as("q_id"), col("id").as("n_id"),
              lit(0.0).as("approx_cos"), lit(0).as("rn"))
        }
        // codes are codebook POSITIONS (0..|cb|-1 in ascending vec_id
        // order), not raw vec_ids: the dot TABLE below is positional,
        // and a sparse/non-contiguous id space would otherwise make
        // element_at(dtab, cid+1) read the wrong codebook's dot in BOTH
        // engines (a shared-assumption bug the oracle cannot catch)
        def cbArr(j: Int): String = cb.zipWithIndex.map { case ((_, vec), pos) =>
          val sub = vec.slice(j * dsub, (j + 1) * dsub)
          s"struct(CAST($pos AS INT) AS cid, " +
            sub.map(x => s"${x}D").mkString("array(", ", ", ")") + " AS cu)"
        }.mkString("array(", ", ", ")")
        def subCol(j: Int) = s"slice(u, ${j * dsub + 1}, $dsub)"
        val codeCols = (0 until m).map { j =>
          expr(s"""aggregate(
            transform(${cbArr(j)}, c -> struct(
              aggregate(zip_with(${subCol(j)}, c.cu, (x, y) -> (x - y) * (x - y)),
                0D, (a, v) -> a + v) AS dd,
              c.cid AS cid)),
            struct(CAST('Infinity' AS DOUBLE) AS dd, -1 AS cid),
            (acc, x) -> IF(x.dd < acc.dd, x, acc)).cid""").as(s"code$j")
        }
        val codes = u.select(col("id").as("n_id") +: codeCols: _*)
        val dtabCols = (0 until m).map { j =>
          expr(s"""transform(${cbArr(j)}, c ->
            aggregate(zip_with(${subCol(j)}, c.cu, (x, y) -> x * y),
              0D, (a, v) -> a + v))""").as(s"dtab$j")
        }
        val q = u.filter(col("id") < 10)
          .select(col("id").as("q_id") +: dtabCols: _*)
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("approx_cos").desc, col("n_id"))
        broadcast(q).join(codes, col("q_id") =!= col("n_id"))
          .withColumn("approx_cos", expr((0 until m)
            .map(j => s"element_at(dtab$j, code$j + 1)").mkString(" + ")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= topK)
          .select("q_id", "n_id", "approx_cos", "rn")
          .orderBy("q_id", "rn")
    }
    QueryDef(
      "s06_ann_pq_adc",
      (s, d) => build(s, d),
      Some {
        def fold(elemExpr: String) =
          s"""list_reduce(list_prepend(0.0,
               list_transform(range(1, $dsub + 1), i -> $elemExpr)),
               (x, y) -> x + y)"""
        val joinsFor = (tbl: String, colName: String) => (0 until m)
          .map(j => s"a$j.$colName AS $colName$j").mkString(", ") +
          s" FROM $tbl a0 " + (1 until m)
          .map(j => s"JOIN $tbl a$j ON a$j.k = a0.k AND a$j.j = $j")
          .mkString(" ") + " WHERE a0.j = 0"
        s"""WITH ${Dedup.normalizedSql},
            cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, u
                   FROM u WHERE vec_id < $kCode),
            js AS (SELECT unnest(range(0, $m)) AS j),
            dd AS (
              SELECT s.vec_id, js.j, c.cid,
                ${fold(s"(s.u[js.j * $dsub + i] - c.u[js.j * $dsub + i]) * " +
                       s"(s.u[js.j * $dsub + i] - c.u[js.j * $dsub + i])")} AS dd
              FROM u s, js, cb c),
            codes AS (
              SELECT vec_id AS k, j, cid FROM (
                SELECT vec_id, j, cid,
                  row_number() OVER (PARTITION BY vec_id, j
                    ORDER BY dd ASC, cid ASC) AS rn
                FROM dd)
              WHERE rn = 1),
            codep AS (SELECT a0.k AS n_id, ${joinsFor("codes", "cid")}),
            qd AS (
              SELECT s.vec_id AS q_id, js.j, c.cid,
                ${fold(s"s.u[js.j * $dsub + i] * c.u[js.j * $dsub + i]")} AS dt
              FROM u s, js, cb c WHERE s.vec_id < 10),
            qd1 AS (
              SELECT q_id AS k, j, list(dt ORDER BY cid) AS dtab
              FROM qd GROUP BY q_id, j),
            qdp AS (SELECT a0.k AS q_id, ${joinsFor("qd1", "dtab")}),
            p AS (
              SELECT q.q_id, cp.n_id,
                q.dtab0[cp.cid0 + 1] + q.dtab1[cp.cid1 + 1]
                  + q.dtab2[cp.cid2 + 1] + q.dtab3[cp.cid3 + 1] AS approx_cos
              FROM qdp q, codep cp WHERE cp.n_id != q.q_id),
            r AS (
              SELECT q_id, n_id, approx_cos,
                CAST(row_number() OVER (PARTITION BY q_id
                     ORDER BY approx_cos DESC, n_id) AS INTEGER) AS rn
              FROM p)
            SELECT q_id, n_id, approx_cos, rn FROM r WHERE rn <= $topK
            ORDER BY q_id, rn"""
      })
  }

  /** Literal-rendered argmin-distance assignment over `cents`: for a
    * row's int8 vector column `q`, the c_id minimizing
    * ‖q − c‖² — compared via the equivalent score dot(c,c) − 2·dot(q,c)
    * (the dot(q,q) term is constant per row), ties to the lowest c_id
    * (the fold keeps the first strict improvement and the centroid
    * array is ordered by c_id). `cc` is pre-folded on the driver with
    * the same left-to-right accumulation DuckDB's `list_dot_product`
    * uses, and `Double.toString` literal rendering round-trips bitwise,
    * so both engines score with identical doubles. */
  private def nearestCentroid(cents: Seq[(Long, Array[Double])]): org.apache.spark.sql.Column = {
    val arr = cents.map { case (cid, cu) =>
      val cc = cu.foldLeft(0.0)((a, x) => a + x * x)
      s"struct(CAST($cid AS BIGINT) AS cid, ${cc}D AS cc, " +
        cu.map(x => s"${x}D").mkString("array(", ", ", ")") + " AS cu)"
    }.mkString("array(", ", ", ")")
    expr(s"""aggregate(
          transform($arr, c -> struct(c.cc - 2 * array_dot(q, c.cu) AS sc, c.cid AS cid)),
          struct(CAST('Infinity' AS DOUBLE) AS sc, CAST(-1 AS BIGINT) AS cid),
          (acc, x) -> IF(x.sc < acc.sc, x, acc)).cid""")
  }

  /** s07 — distributed Lloyd k-means over the embeddings table, the
    * iterative refinement the pinned-centroid quantizers (d13, s03b)
    * deliberately skip: k=8 centroids seeded from the low-id vectors,
    * three assign→update rounds, output = every vector's final cluster
    * plus the cluster's size.
    *
    * Oracle-exact end to end, which k-means on floats normally can't
    * be — three ingredients make it deterministic in BOTH engines:
    * (1) vectors are int8-quantized (s05's trick, kept as integral
    * DOUBLEs), so every partial sum in the centroid update is an
    * integer below 2^53 — exact and ORDER-INDEPENDENT no matter how
    * Spark partitions the aggregation; (2) centroids are the exact
    * rationals (integer sum)/(count), divided once in IEEE double —
    * both engines produce the same bits; (3) assignment scores are
    * sequential-fold dot products (array_dot ≡ list_dot_product,
    * bit-identity verified on ~2M pairs), ties broken by centroid id.
    * The DuckDB mirror unrolls the three rounds as CTEs (g01/d07's
    * unrolled fixed-point idiom). Empty clusters keep their previous
    * centroid — same coalesce rule in both engines.
    *
    * Scale shape: the quantized corpus is materialized ONCE
    * (localCheckpoint; a cluster job would persist) and every round is
    * one narrow scan — the 8-struct centroid array travels to executors
    * inside the rendered expression (broadcast-by-literal), the update
    * aggregates map-side down to k×(dim+1) numbers, and only those k
    * rows reach the driver (bounded collect, k=8 × 65 doubles). No
    * vector ever shuffles; 100 TB cost is iters+1 scans. */
  val kmeansLloyd: QueryDef = {
    val k = 8; val iters = 3
    QueryDef(
      "s07_kmeans_lloyd",
      (s, d) => {
        graft.expr.ArrayDot.register(s)
        val q = Dedup.normalized(s, d, "id", "u")
          .select(col("id"),
            expr("transform(u, x -> CAST(CAST(round(x * 127) AS BIGINT) AS DOUBLE))")
              .as("q"))
          .localCheckpoint()
        val init = q.filter(col("id") < k).collect()
          .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
        if (init.isEmpty) {
          // empty corpus: an empty clustering, not an error; a NON-empty
          // corpus without the pinned seed vectors must fail loudly
          // (assignClusters' contract)
          require(q.isEmpty,
            s"non-empty corpus has no centroid vectors with id < $k")
          q.filter(lit(false)).select(col("id").as("vec_id"),
            lit(-1L).as("cluster"), lit(0L).as("cluster_size"))
        } else {
          val dim = init.head._2.length
          var cents: Seq[(Long, Array[Double])] = init.toSeq
          for (_ <- 1 to iters) {
            val sums = (0 until dim)
              .map(i => sum(element_at(col("q"), i + 1)).as(s"s$i")) :+
              count(lit(1)).as("n")
            val rows = q.select(nearestCentroid(cents).as("cluster"), col("q"))
              .groupBy("cluster").agg(sums.head, sums.tail: _*)
              .collect() // bounded: k rows × (dim+1) values
              .map(r => r.getLong(0) -> r).toMap
            cents = cents.map { case (cid, prev) =>
              cid -> rows.get(cid).map { r =>
                val n = r.getLong(dim + 1)
                Array.tabulate(dim)(i => r.getDouble(i + 1) / n)
              }.getOrElse(prev) // empty cluster keeps its centroid
            }
          }
          val fin = q.select(col("id").as("vec_id"),
            nearestCentroid(cents).as("cluster"))
          val sizes = fin.groupBy("cluster")
            .agg(count(lit(1)).as("cluster_size"))
          fin.join(broadcast(sizes), Seq("cluster"))
            .select("vec_id", "cluster", "cluster_size")
            .orderBy("vec_id")
        }
      },
      Some {
        val rounds = (1 to iters).map { r =>
          val p = r - 1
          s"""a$r AS (
               SELECT q.vec_id, c.c_id,
                 list_dot_product(c.c, c.c) - 2 * list_dot_product(q.q, c.c) AS score
               FROM qv q, c$p c),
             asg$r AS (
               SELECT vec_id, c_id AS cluster FROM (
                 SELECT vec_id, c_id,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY score, c_id) AS rn
                 FROM a$r) WHERE rn = 1),
             s$r AS (
               SELECT asg.cluster, i.i AS i, SUM(q.q[i.i]) AS s, COUNT(*) AS n
               FROM asg$r asg JOIN qv q USING (vec_id),
                 unnest(range(1, len(q.q) + 1)) AS i(i)
               GROUP BY 1, 2),
             c$r AS (
               SELECT prev.c_id, coalesce(m.c, prev.c) AS c
               FROM c$p prev
               LEFT JOIN (SELECT cluster AS c_id, list(s / n ORDER BY i) AS c
                          FROM s$r GROUP BY 1) m USING (c_id))"""
        }.mkString(",\n")
        s"""WITH ${Dedup.normalizedSql},
            qv AS (
              SELECT vec_id,
                list_transform(u, x -> CAST(CAST(round(x * 127) AS BIGINT) AS DOUBLE)) AS q
              FROM u),
            c0 AS (SELECT vec_id AS c_id, q AS c FROM qv WHERE vec_id < $k),
            $rounds,
            af AS (
              SELECT vec_id, c_id AS cluster FROM (
                SELECT q.vec_id, c.c_id,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY list_dot_product(c.c, c.c)
                      - 2 * list_dot_product(q.q, c.c), c.c_id) AS rn
                FROM qv q, c$iters c) WHERE rn = 1),
            sz AS (SELECT cluster, COUNT(*) AS cluster_size FROM af GROUP BY 1)
            SELECT af.vec_id, af.cluster, sz.cluster_size
            FROM af JOIN sz USING (cluster) ORDER BY vec_id"""
      })
  }

  /** s08 — ANN index QUALITY evaluation: recall@5 of the pinned-IVF
    * index (s03b) against the exact brute-force baseline (s01), per
    * query. This is the harness every approximate index needs before a
    * production cutover — "how much of the true top-k does the cheap
    * index return" — expressed as a registered query so the number is
    * itself oracle-checked: both inputs are deterministic registered
    * shapes, so the recall is bit-exact in both engines (the DuckDB
    * mirror composes the two queries' own mirrors as derived tables).
    *
    * Scale shape: the expensive side is s01's broadcast-query corpus
    * scan — at 100 TB you'd run it over a SAMPLED query set exactly as
    * here (10 queries), which is how recall is measured in practice;
    * the join after both top-k's is 50 rows against 50. */
  val annRecall: QueryDef = QueryDef(
    "s08_ann_recall",
    (s, d) => {
      val ex = cosineTopK.build(s, d).select(col("q_id"), col("n_id"))
      val ap = annIvfPinned.build(s, d)
        .select(col("q_id").as("a_q"), col("n_id").as("a_n"))
      ex.join(ap,
          col("q_id") === col("a_q") && col("n_id") === col("a_n"),
          "left_outer")
        .groupBy("q_id")
        .agg(count(col("a_n")).as("hits"))
        .select(col("q_id"), col("hits"),
          (col("hits") / lit(5.0)).as("recall_at_5"))
        .orderBy("q_id")
    },
    Some(s"""WITH ex AS (
               SELECT q_id, n_id FROM (${cosineTopK.sql.get}) x),
             ap AS (
               SELECT q_id, n_id FROM (${annIvfPinned.sql.get}) y)
             SELECT ex.q_id, CAST(count(ap.n_id) AS BIGINT) AS hits,
               CAST(count(ap.n_id) AS DOUBLE) / 5.0 AS recall_at_5
             FROM ex LEFT JOIN ap
               ON ap.q_id = ex.q_id AND ap.n_id = ex.n_id
             GROUP BY ex.q_id ORDER BY ex.q_id"""))

  /** s09 — metadata-filtered similarity search ("filtered ANN"): top-3
    * neighbors per query vector restricted to candidates sharing the
    * query's label — the filter-then-search op every vector store
    * exposes (pre-filtering, not post-filtering: the predicate joins
    * INTO the candidate generation, so k survivors are guaranteed and
    * no budget is wasted scoring rows the filter would discard).
    *
    * Determinism: same unit-normalize + sequential-fold dot as s01
    * (bit-identical across engines), unique (cos desc, n_id) ranking.
    *
    * Scale shape: label joins the equi-key — the candidate join is
    * (label)-keyed, so each query only meets its own label partition
    * (~1/|labels| of the corpus) instead of a full scan; the bounded
    * query set broadcasts and the per-query top-k window partitions by
    * q_id. At 100 TB with a selective predicate this is the difference
    * between scanning a shard and scanning the corpus. */
  val filteredTopK: QueryDef = {
    val k = 3
    QueryDef(
      "s09_filtered_topk",
      (s, d) => {
        graft.expr.ArrayDot.register(s)
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("emb"))
        val withU = Dedup.unitized(e, Seq(col("vec_id"), col("label")), "u")
        val q = withU.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("label"), col("u").as("q_u"))
        val c = withU
          .select(col("vec_id").as("n_id"), col("label"), col("u").as("n_u"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("n_id"))
        broadcast(q).join(c, Seq("label"))
          .filter(col("q_id") =!= col("n_id"))
          .withColumn("cos_sim", expr("array_dot(q_u, n_u)"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= k)
          .select("q_id", "label", "n_id", "cos_sim", "rn")
          .orderBy("q_id", "rn")
      },
      Some(s"""WITH e AS (
                 SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
                 FROM embeddings),
               ${Dedup.unitNormSql("e", ", label")},
               p AS (
                 SELECT a.vec_id AS q_id, a.label, b.vec_id AS n_id,
                   ${Dedup.pairDotSql} AS cos_sim
                 FROM u a JOIN u b
                   ON a.label = b.label AND a.vec_id < 10
                   AND b.vec_id != a.vec_id),
               r AS (
                 SELECT q_id, label, n_id, cos_sim,
                   CAST(row_number() OVER (PARTITION BY q_id
                        ORDER BY cos_sim DESC, n_id) AS INTEGER) AS rn
                 FROM p)
               SELECT q_id, label, n_id, cos_sim, rn FROM r WHERE rn <= $k
               ORDER BY q_id, rn"""))
  }

  /** s10 — MMR diversified re-ranking (Carbonell & Goldstein, SIGIR
    * 1998): retrieve a relevance pool, then greedily select k results
    * maximizing λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s) — the standard
    * redundancy-penalized rerank a RAG retriever runs after ANN so the
    * k passages aren't k near-copies. Pool = top-8 by relevance to the
    * pinned query (vec 0); k = 4 selections at λ = 0.7.
    *
    * Determinism: vectors are s05's int8 quantization, so rel and all
    * pairwise sims are EXACT INTEGER dots; λ = 0.7 enters as the
    * integer weights (7, 3) — order-identical to the float objective —
    * and every argmax breaks ties on (score DESC, id ASC). The greedy
    * recursion is unrolled: four chained rounds in both engines (g01's
    * unrolled-CTE discipline applied to a selection loop).
    *
    * Scale shape: the corpus-scale stage is the pool retrieval (s01's
    * broadcast-query scan + top-k window); everything after operates on
    * the 8-row pool — the 8×8 sim matrix and the four selection rounds
    * are bounded work independent of corpus size, checkpointed once so
    * the unrolled lineage doesn't recompute the scan per round. */
  val mmrRerank: QueryDef = {
    val poolK = 8; val selK = 4
    val quant = "transform(%s, x -> CAST(round(x * 127) AS BIGINT))"
    val sparkDot = (a: String, b: String) =>
      s"aggregate(zip_with($a, $b, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    QueryDef(
      "s10_mmr_rerank",
      (s, d) => {
        val c = Dedup.normalized(s, d, "id", "u")
          .select(col("id"), expr(quant.format("u")).as("qv"))
        val q0 = c.filter(col("id") === 0).select(col("qv").as("q0"))
        val pool = c.filter(col("id") =!= 0).crossJoin(broadcast(q0))
          .select(col("id"), col("qv"),
            expr(sparkDot("q0", "qv")).as("rel"))
          .orderBy(col("rel").desc, col("id")).limit(poolK)
          .localCheckpoint()
        val sims = pool.select(col("id").as("a_id"), col("qv").as("a_qv"))
          .crossJoin(pool.select(col("id").as("b_id"), col("qv").as("b_qv")))
          .filter(col("a_id") =!= col("b_id"))
          .select(col("a_id"), col("b_id"),
            expr(sparkDot("a_qv", "b_qv")).as("sim"))
          .localCheckpoint()
        val p = pool.select("id", "rel")
        var sel = p.orderBy(col("rel").desc, col("id")).limit(1)
          .select(col("id"), col("rel"), (lit(7L) * col("rel")).as("mmr"),
            lit(1).as("rank"))
        for (i <- 2 to selK) {
          val pen = sims
            .join(sel.select(col("id").as("b_id")), "b_id")
            .groupBy("a_id").agg(max("sim").as("maxsim"))
          val next = p
            .join(sel.select(col("id").as("sid")),
              col("id") === col("sid"), "left_anti")
            .join(pen, col("id") === col("a_id"))
            .select(col("id"), col("rel"),
              (lit(7L) * col("rel") - lit(3L) * col("maxsim")).as("mmr"))
            .orderBy(col("mmr").desc, col("id")).limit(1)
            .withColumn("rank", lit(i))
          sel = sel.unionAll(next)
        }
        sel.select(col("rank"), col("id").as("n_id"), col("rel"), col("mmr"))
          .orderBy("rank")
      },
      Some {
        val duckDot = (a: String, b: String, dim: String) =>
          s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, $dim + 1), i -> $a[i] * $b[i])),
              (x, y) -> x + y)"""
        val rounds = (2 to selK).map { i =>
          s"""s$i AS (
                SELECT p.id, p.rel,
                  7 * p.rel - 3 * (SELECT max(sim) FROM sims
                    WHERE a_id = p.id
                      AND b_id IN (SELECT id FROM c${i - 1})) AS mmr,
                  $i AS rank
                FROM pool p WHERE p.id NOT IN (SELECT id FROM c${i - 1})
                ORDER BY mmr DESC, id LIMIT 1),
              c$i AS (SELECT * FROM c${i - 1} UNION ALL SELECT * FROM s$i)"""
        }.mkString(",\n")
        s"""WITH ${Dedup.normalizedSql},
            q AS (SELECT vec_id,
                    list_transform(u, x -> CAST(round(x * 127) AS BIGINT)) AS qv
                  FROM u),
            rel AS (
              SELECT b.vec_id AS id, b.qv,
                ${duckDot("q0.qv", "b.qv", "len(b.qv)")} AS rel
              FROM q b, (SELECT qv FROM q WHERE vec_id = 0) q0
              WHERE b.vec_id != 0),
            pool AS (SELECT * FROM rel ORDER BY rel DESC, id LIMIT $poolK),
            sims AS (
              SELECT a.id AS a_id, b.id AS b_id,
                ${duckDot("a.qv", "b.qv", "len(a.qv)")} AS sim
              FROM pool a JOIN pool b ON a.id != b.id),
            s1 AS (SELECT id, rel, 7 * rel AS mmr, 1 AS rank FROM pool
                   ORDER BY rel DESC, id LIMIT 1),
            c1 AS (SELECT * FROM s1),
            $rounds
            SELECT CAST(rank AS INTEGER) AS rank, CAST(id AS BIGINT) AS n_id,
              rel, CAST(mmr AS BIGINT) AS mmr
            FROM c$selK ORDER BY rank"""
      })
  }

  /** s11 — two-stage retrieval (candidate generation → exact rescore):
    * the production serving shape every vector store runs — a cheap
    * int8 first pass over-fetches 20 candidates per query, then ONLY
    * those 20 are re-scored with the full-precision dot and the top-5
    * re-ranked (Jégou et al., TPAMI 2011 §V's "re-ranking with exact
    * distances" stage on top of s05's quantized scan).
    *
    * Determinism: stage 1 ranks by exact integer dots with the
    * (dot DESC, id ASC) tiebreak; stage 2 re-scores with the
    * engine-identical sequential double fold (s01's discipline), so
    * both stages — and the rank FLIPS between them, which is the
    * observable two-stage behavior — hash-check exactly.
    *
    * Scale shape: stage 1 is s05's broadcast-query scan (corpus never
    * shuffles, WindowGroupLimit prunes map-side); stage 2 touches
    * 20 rows per query — re-scoring cost is candidate-bounded,
    * independent of corpus size. */
  val twoStageRescore: QueryDef = {
    val fetchK = 20; val k = 5
    val quant = "transform(%s, x -> CAST(round(x * 127) AS BIGINT))"
    QueryDef(
      "s11_two_stage_rescore",
      (s, d) => {
        graft.expr.ArrayDot.register(s)
        val u = Dedup.normalized(s, d, "id", "u")
          .select(col("id"), col("u"), expr(quant.format("u")).as("qv"))
        val q = u.filter(col("id") < 5)
          .select(col("id").as("q_id"), col("u").as("q_u"),
            col("qv").as("q_qv"))
        val stage1 = Window.partitionBy(col("q_id"))
          .orderBy(col("i_dot").desc, col("n_id"))
        val stage2 = Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("n_id"))
        broadcast(q)
          .join(u.select(col("id").as("n_id"), col("u").as("n_u"),
            col("qv").as("n_qv")), col("q_id") =!= col("n_id"))
          .withColumn("i_dot",
            expr("aggregate(zip_with(q_qv, n_qv, (x, y) -> x * y), " +
              "CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
          .withColumn("crn", row_number().over(stage1))
          .filter(col("crn") <= fetchK)
          .withColumn("cos_sim", expr("array_dot(q_u, n_u)"))
          .withColumn("rn", row_number().over(stage2))
          .filter(col("rn") <= k)
          .select("q_id", "n_id", "i_dot", "crn", "cos_sim", "rn")
          .orderBy("q_id", "rn")
      },
      Some(s"""WITH ${Dedup.normalizedSql},
               z AS (
                 SELECT vec_id, u,
                   list_transform(u, x -> CAST(round(x * 127) AS BIGINT))
                     AS qv
                 FROM u),
               p AS (
                 SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                   a.u AS q_u, b.u AS n_u,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, len(a.qv) + 1),
                       i -> a.qv[i] * b.qv[i])),
                     (x, y) -> x + y) AS i_dot
                 FROM z a JOIN z b
                   ON a.vec_id < 5 AND b.vec_id != a.vec_id),
               c AS (
                 SELECT q_id, n_id, i_dot, q_u, n_u,
                   CAST(row_number() OVER (PARTITION BY q_id
                        ORDER BY i_dot DESC, n_id) AS INTEGER) AS crn
                 FROM p),
               r AS (
                 SELECT q_id, n_id, i_dot, crn,
                   list_dot_product(q_u, n_u) AS cos_sim
                 FROM c WHERE crn <= $fetchK),
               f AS (
                 SELECT q_id, n_id, i_dot, crn, cos_sim,
                   CAST(row_number() OVER (PARTITION BY q_id
                        ORDER BY cos_sim DESC, n_id) AS INTEGER) AS rn
                 FROM r)
               SELECT q_id, n_id, i_dot, crn, cos_sim, rn
               FROM f WHERE rn <= $k ORDER BY q_id, rn"""))
  }

  /** s12 — leave-one-out kNN classification over the labeled embedding
    * corpus (Cover & Hart, "Nearest neighbor pattern classification",
    * IEEE TIT 1967): each panel vector's label is predicted by the
    * majority vote of its 10 nearest neighbors (itself excluded), and
    * the report is per-true-label accuracy — the embedding-quality
    * evaluation harness (t21's confusion-matrix idiom applied to the
    * vector space; s08 scores retrieval recall, s12 scores label
    * coherence).
    *
    * Determinism: cosine is the shared bit-identical fold (s01's
    * argument); neighbor rank ties break on n_id, vote ties on
    * (count DESC, label ASC); accuracy is the INTEGER
    * `acc_ppm = 10⁶·n_correct DIV n_eval`.
    *
    * Scale shape: the evaluation panel (vec_id < 100) is bounded and
    * broadcast — the corpus is scanned once and never shuffled by the
    * pair stage; votes and the report are aggregates over
    * panel-sized frames. A full-corpus LOO sweep at 100 TB would swap
    * the broadcast pair stage for the s03b IVF bucket join and keep
    * every stage after `knn` unchanged. */
  val knnClassify: QueryDef = {
    val k = 10
    QueryDef(
      "s12_knn_classify",
      (s, d) => {
        graft.expr.ArrayDot.register(s)
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("emb"))
        val withU = Dedup.unitized(e, Seq(col("vec_id"), col("label")), "u")
        val q = withU.filter(col("vec_id") < 100)
          .select(col("vec_id").as("q_id"), col("label").as("q_label"),
            col("u").as("q_u"))
        val c = withU.select(col("vec_id").as("n_id"),
          col("label").as("n_label"), col("u").as("n_u"))
        val byCos = Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("n_id"))
        val knn = broadcast(q).join(c, col("q_id") =!= col("n_id"))
          .withColumn("cos_sim", expr("array_dot(q_u, n_u)"))
          .withColumn("rn", row_number().over(byCos))
          .filter(col("rn") <= k)
        val byVotes = Window.partitionBy(col("q_id"))
          .orderBy(col("votes").desc, col("n_label"))
        val pred = knn.groupBy("q_id", "q_label", "n_label")
          .agg(count(lit(1)).as("votes"))
          .withColumn("vr", row_number().over(byVotes))
          .filter(col("vr") === 1)
          .select(col("q_id"), col("q_label"),
            col("n_label").as("pred_label"))
        pred.groupBy(col("q_label").as("label"))
          .agg(count(lit(1)).as("n_eval"),
            sum(when(col("q_label") === col("pred_label"), 1L)
              .otherwise(0L)).as("n_correct"))
          .withColumn("acc_ppm",
            expr("(1000000 * n_correct) DIV n_eval"))
          .orderBy("label")
      },
      Some(s"""WITH e AS (
                 SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
                 FROM embeddings),
               ${Dedup.unitNormSql("e", ", label")},
               p AS (
                 SELECT a.vec_id AS q_id, a.label AS q_label,
                   b.vec_id AS n_id, b.label AS n_label,
                   ${Dedup.pairDotSql} AS cos_sim
                 FROM u a JOIN u b
                   ON a.vec_id < 100 AND b.vec_id != a.vec_id),
               knn AS (
                 SELECT q_id, q_label, n_label FROM (
                   SELECT q_id, q_label, n_label,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY cos_sim DESC, n_id) AS rn
                   FROM p) WHERE rn <= $k),
               votes AS (
                 SELECT q_id, q_label, n_label, count(*) AS votes
                 FROM knn GROUP BY 1, 2, 3),
               pred AS (
                 SELECT q_id, q_label, n_label AS pred_label FROM (
                   SELECT q_id, q_label, n_label,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY votes DESC, n_label) AS vr
                   FROM votes) WHERE vr = 1)
               SELECT q_label AS label,
                 count(*) AS n_eval,
                 CAST(sum(CASE WHEN q_label = pred_label THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_correct,
                 CAST((1000000 * sum(CASE WHEN q_label = pred_label
                     THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS acc_ppm
               FROM pred GROUP BY 1 ORDER BY label"""))
  }

  /** s13 — recall@5-vs-nprobe sweep over the pinned-IVF index: ONE
    * query that scores the s03b index at probe budgets 1/2/4/8 against
    * s01's exact top-5 — the accuracy-vs-cost tuning curve every IVF
    * deployment reads before picking its operating point (d17 is this
    * harness for MinHash thresholds, s08 for a single fixed budget;
    * s13 sweeps the budget).
    *
    * Determinism: candidate dots, cell ranks, and (cos DESC, n_id)
    * tiebreaks are s03b's bit-identical folds; hits are integer; the
    * recall is ONE IEEE division per sweep row, round(6).
    *
    * Scale shape: candidates are generated ONCE at the WIDEST budget
    * (crn ≤ 8, an equi-join on cell id against the corpus — each query
    * meets ~maxProbe/k of the corpus, never all of it); every narrower
    * budget is a filter + re-rank of that bounded per-query frame, so
    * the sweep costs one candidate join, not four. The np fan-out
    * multiplies only the already-bounded candidate rows. */
  val nprobeSweep: QueryDef = {
    val kCentroids = 16; val maxProbe = 8; val topK = 5
    QueryDef(
      "s13_nprobe_sweep",
      (s, d) => {
        graft.expr.ArrayDot.register(s)
        // consume the session-materialized pinned index (s03b's stage)
        val assigned = pinnedAssigned(s, d)
        val cents = assigned.filter(col("id") < kCentroids)
          .select(col("id").as("c_id"), col("u").as("c_u"))
        val byDot = Window.partitionBy(col("q_id"))
          .orderBy(col("c_dot").desc, col("c_id"))
        val probes = assigned.filter(col("id") < 10)
          .select(col("id").as("q_id"), col("u").as("q_u"))
          .crossJoin(broadcast(cents))
          .withColumn("c_dot", expr("array_dot(q_u, c_u)"))
          .withColumn("crn", row_number().over(byDot))
          .filter(col("crn") <= maxProbe)
          .select(col("q_id"), col("q_u"), col("c_id").as("cluster"),
            col("crn"))
        val corpus = assigned
          .select(col("id").as("n_id"), col("cluster"), col("u").as("n_u"))
        val cand = broadcast(probes).join(corpus, Seq("cluster"))
          .filter(col("q_id") =!= col("n_id"))
          .withColumn("cos_sim", expr("array_dot(q_u, n_u)"))
          .select("q_id", "n_id", "cos_sim", "crn")
        val byCos = Window.partitionBy(col("q_id"), col("np"))
          .orderBy(col("cos_sim").desc, col("n_id"))
        val approx = cand
          .withColumn("np", explode(expr("array(1, 2, 4, 8)")))
          .filter(col("crn") <= col("np"))
          .withColumn("rn", row_number().over(byCos))
          .filter(col("rn") <= topK)
          .select("np", "q_id", "n_id")
        val ex = cosineTopK.build(s, d)
          .select(col("q_id").as("e_q"), col("n_id").as("e_n"))
        val nq = ex.select(countDistinct(col("e_q")).as("n_queries"))
        val hitsByNp = approx.join(ex,
            col("q_id") === col("e_q") && col("n_id") === col("e_n"),
            "left_semi")
          .groupBy("np").agg(count(lit(1)).as("hits"))
        // the final aggregate is driven from the np DOMAIN (the sweep
        // frame), not the hit set: a budget with zero exact-top-k hits
        // must report recall 0.0, not vanish from the 4-row sweep
        s.sql("SELECT explode(array(1, 2, 4, 8)) AS np")
          .join(hitsByNp, Seq("np"), "left")
          .crossJoin(broadcast(nq))
          .selectExpr("np", "n_queries",
            "coalesce(hits, CAST(0 AS BIGINT)) AS hits",
            s"round(CAST(coalesce(hits, 0) AS DOUBLE) / ($topK.0 * CAST(n_queries AS DOUBLE)), 6) AS recall_at_5")
          .orderBy("np")
      },
      Some(s"""WITH ${Dedup.normalizedSql},
               cents AS (
                 SELECT vec_id AS c_id, u AS c_u FROM u
                 WHERE vec_id < $kCentroids),
               ad AS (
                 SELECT u.vec_id, c.c_id,
                   list_dot_product(u.u, c.c_u) AS c_dot
                 FROM u, cents c),
               asg AS (
                 SELECT vec_id, c_id AS cluster FROM (
                   SELECT vec_id, c_id,
                     row_number() OVER (PARTITION BY vec_id
                       ORDER BY c_dot DESC, c_id) AS crn
                   FROM ad)
                 WHERE crn = 1),
               probes AS (
                 SELECT vec_id AS q_id, c_id AS cluster, crn FROM (
                   SELECT vec_id, c_id,
                     row_number() OVER (PARTITION BY vec_id
                       ORDER BY c_dot DESC, c_id) AS crn
                   FROM ad WHERE vec_id < 10)
                 WHERE crn <= $maxProbe),
               cand AS (
                 SELECT pr.q_id, sb.vec_id AS n_id,
                   list_dot_product(a.u, b.u) AS cos_sim, pr.crn
                 FROM probes pr
                 JOIN asg sb ON sb.cluster = pr.cluster
                   AND sb.vec_id != pr.q_id
                 JOIN u a ON a.vec_id = pr.q_id
                 JOIN u b ON b.vec_id = sb.vec_id),
               sweep AS (SELECT unnest([1, 2, 4, 8]) AS np),
               approx AS (
                 SELECT np, q_id, n_id FROM (
                   SELECT s.np, c.q_id, c.n_id,
                     row_number() OVER (PARTITION BY c.q_id, s.np
                       ORDER BY c.cos_sim DESC, c.n_id) AS rn
                   FROM cand c JOIN sweep s ON c.crn <= s.np)
                 WHERE rn <= $topK),
               ex AS (
                 SELECT q_id AS e_q, n_id AS e_n
                 FROM (${cosineTopK.sql.get}) x),
               nq AS (SELECT count(DISTINCT e_q) AS n_queries FROM ex),
               hits AS (
                 SELECT a.np, count(*) AS hits
                 FROM approx a
                 JOIN ex ON ex.e_q = a.q_id AND ex.e_n = a.n_id
                 GROUP BY a.np)
               SELECT CAST(s.np AS INTEGER) AS np,
                 CAST(nq.n_queries AS BIGINT) AS n_queries,
                 CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
                 round(CAST(coalesce(h.hits, 0) AS DOUBLE) /
                       ($topK.0 * CAST(nq.n_queries AS DOUBLE)), 6)
                   AS recall_at_5
               FROM sweep s LEFT JOIN hits h ON h.np = s.np, nq
               ORDER BY np"""))
  }

  /** s14 — hard-negative mining for contrastive training (the data op
    * behind every dual-encoder recipe, e.g. Karpukhin et al., "Dense
    * Passage Retrieval", EMNLP 2020 §3.2: the best negatives are the
    * nearest neighbors with a DIFFERENT label): per query vector, the
    * top-3 most-similar vectors whose label differs — s09's
    * complement (s09 restricts TO the label, s14 excludes it).
    *
    * Determinism: s01's bit-identical cosine fold, (cos DESC, n_id)
    * ranking.
    *
    * Scale shape: unlike s09 the predicate is an EXCLUSION, so it
    * cannot become the equi key — the bounded query panel broadcasts
    * against the corpus scan with the label filter fused into the
    * candidate stage (scans (|labels|−1)/|labels| of the corpus, which
    * at 100 TB is where the s03b IVF bucket join would slot in front,
    * exactly as s12's doc describes). */
  val hardNegatives: QueryDef = {
    val k = 3
    QueryDef(
      "s14_hard_negatives",
      (s, d) => {
        graft.expr.ArrayDot.register(s)
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("emb"))
        val withU = Dedup.unitized(e, Seq(col("vec_id"), col("label")), "u")
        val q = withU.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("label").as("q_label"),
            col("u").as("q_u"))
        val c = withU.select(col("vec_id").as("n_id"),
          col("label").as("n_label"), col("u").as("n_u"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("n_id"))
        broadcast(q).join(c, col("q_label") =!= col("n_label"))
          .withColumn("cos_sim", expr("array_dot(q_u, n_u)"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= k)
          .select("q_id", "q_label", "n_id", "n_label", "cos_sim", "rn")
          .orderBy("q_id", "rn")
      },
      Some(s"""WITH e AS (
                 SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
                 FROM embeddings),
               ${Dedup.unitNormSql("e", ", label")},
               p AS (
                 SELECT a.vec_id AS q_id, a.label AS q_label,
                   b.vec_id AS n_id, b.label AS n_label,
                   ${Dedup.pairDotSql} AS cos_sim
                 FROM u a JOIN u b
                   ON a.vec_id < 10 AND b.label != a.label),
               r AS (
                 SELECT q_id, q_label, n_id, n_label, cos_sim,
                   CAST(row_number() OVER (PARTITION BY q_id
                        ORDER BY cos_sim DESC, n_id) AS INTEGER) AS rn
                 FROM p)
               SELECT q_id, q_label, n_id, n_label, cos_sim, rn
               FROM r WHERE rn <= $k ORDER BY q_id, rn"""))
  }

  /** s15 — NDCG@5 of the IVF ranking against the exact ranking
    * (Järvelin & Kekäläinen, "Cumulated gain-based evaluation of IR
    * techniques", TOIS 2002): s08's recall@5 counts hits but ignores
    * ORDER — NDCG grades each approximate position by a graded
    * relevance (6 − exact_rank for items in the exact top-5, 0
    * otherwise) with a logarithmic position discount, so an index that
    * returns the right five in the wrong order scores below one. The
    * third leg of the retrieval-eval battery: s08 recall, s13 cost
    * curve, s15 rank quality.
    *
    * Determinism: the five discount constants round(10⁶/log₂(p+1)) and
    * the ideal DCG are computed ONCE in Scala and emitted as the same
    * literals to both engines, so the per-query DCG is an exact integer
    * sum and NDCG is one IEEE division, round(6).
    *
    * Scale shape: composes s01 (exact, bounded-query broadcast) and
    * s03b (pinned IVF probe) exactly as s08 does; the grading join is
    * (q_id, n_id)-keyed over two k-bounded frames; the final aggregate
    * is 10 rows. */
  val ndcgEval: QueryDef = {
    val k = 5
    val disc = (1 to k).map(p =>
      p -> math.round(1e6 / (math.log(p + 1) / math.log(2))))
    val idcg = disc.map { case (p, d) => (k + 1 - p) * d }.sum
    val sparkCase = disc.map { case (p, d) =>
      s"WHEN rn = $p THEN CAST($d AS BIGINT)"
    }.mkString("CASE ", " ", " END")
    val duckCase = sparkCase
    QueryDef(
      "s15_ndcg_eval",
      (s, d) => {
        val ex = cosineTopK.build(s, d)
          .select(col("q_id").as("e_q"), col("n_id").as("e_n"),
            col("rn").as("e_rn"))
        annIvfPinned.build(s, d)
          .select(col("q_id"), col("n_id"), col("rn"))
          .join(ex, col("q_id") === col("e_q") && col("n_id") === col("e_n"),
            "left_outer")
          .select(col("q_id"),
            (coalesce(lit(k + 1) - col("e_rn"), lit(0)).cast("long") *
              expr(sparkCase)).as("gain"))
          .groupBy("q_id")
          .agg(sum("gain").as("dcg_micro"))
          .select(col("q_id"), col("dcg_micro"),
            expr(s"round(CAST(dcg_micro AS DOUBLE) / $idcg.0, 6)")
              .as("ndcg_at_5"))
          .orderBy("q_id")
      },
      Some(s"""WITH ex AS (
                 SELECT q_id AS e_q, n_id AS e_n, rn AS e_rn
                 FROM (${cosineTopK.sql.get}) x),
               ap AS (
                 SELECT q_id, n_id, rn FROM (${annIvfPinned.sql.get}) y),
               graded AS (
                 SELECT ap.q_id,
                   CAST(coalesce(${k + 1} - ex.e_rn, 0) AS BIGINT) *
                     ($duckCase) AS gain
                 FROM ap LEFT JOIN ex
                   ON ex.e_q = ap.q_id AND ex.e_n = ap.n_id)
               SELECT q_id, CAST(sum(gain) AS BIGINT) AS dcg_micro,
                 round(CAST(sum(gain) AS DOUBLE) / $idcg.0, 6) AS ndcg_at_5
               FROM graded GROUP BY q_id ORDER BY q_id"""))
  }

  /** s16 — pseudo-relevance feedback (Rocchio, SMART retrieval system
    * 1971; the query-refinement half of modern two-round retrieval):
    * round 1 retrieves each query's exact top-3 (s01's machinery),
    * the refined query q' = q + 0.75·mean(top-3 unit vectors) is
    * formed elementwise, and round 2 re-scores the corpus against q',
    * returning the top-5 NEW documents (feedback docs excluded — the
    * residual-collection evaluation convention).
    *
    * Determinism: the rank-1/2/3 vectors pivot through max(CASE) with
    * exactly one non-null per slot (order-free); q' is built
    * elementwise in one fixed expression — q + 0.75·(((v1+v2)+v3)/3)
    * — and both scoring passes are the same sequential dot-product
    * fold s01 proved bit-identical; ties break on n_id.
    *
    * Scale shape: the query panel is bounded (10 vectors) and
    * BROADCAST twice — round 1 and round 2 each scan the corpus in
    * place, the corpus never shuffles, and the feedback/exclusion
    * frames are panel-sized (3k0 and k0 rows per query). At 100 TB
    * this is two corpus scans, the same cost envelope as s11's
    * two-stage rescore; an ANN round 1 (s03b's bucketed probe) slots
    * in unchanged when the exact first pass is too hot. */
  val rocchioFeedback: QueryDef = {
    val k0 = 3; val k = 5; val beta = 0.75
    QueryDef(
      "s16_rocchio_feedback",
      (s, d) => {
        graft.expr.ArrayDot.register(s)
        val q = Dedup.normalized(s, d, "q_id", "q_u").filter(col("q_id") < 10)
        val c = Dedup.normalized(s, d, "n_id", "n_u")
        val w1 = Window.partitionBy(col("q_id"))
          .orderBy(col("cs").desc, col("n_id"))
        val fb = broadcast(q.select("q_id", "q_u"))
          .join(c, col("q_id") =!= col("n_id"))
          .withColumn("cs", expr("array_dot(q_u, n_u)"))
          .withColumn("rn", row_number().over(w1))
          .filter(col("rn") <= k0)
          .select("q_id", "n_id", "n_u", "rn")
          .localCheckpoint() // panel-sized (k0 rows per query)
        val refined = fb.groupBy("q_id")
          .agg(
            max(when(col("rn") === 1, col("n_u"))).as("v1"),
            max(when(col("rn") === 2, col("n_u"))).as("v2"),
            max(when(col("rn") === 3, col("n_u"))).as("v3"))
          .join(q.select("q_id", "q_u"), "q_id")
          .withColumn("qr", expr(
            s"zip_with(q_u, zip_with(zip_with(v1, v2, (x, y) -> x + y), v3, (x, y) -> x + y), " +
              s"(qv, sv) -> qv + ${beta}D * (sv / 3.0D))"))
          .select("q_id", "qr")
        val w2 = Window.partitionBy(col("q_id"))
          .orderBy(col("score").desc, col("n_id"))
        broadcast(refined).join(c, col("q_id") =!= col("n_id"))
          .join(fb.select("q_id", "n_id"), Seq("q_id", "n_id"), "left_anti")
          .withColumn("score", expr("array_dot(qr, n_u)"))
          .withColumn("rn", row_number().over(w2))
          .filter(col("rn") <= k)
          .select("q_id", "n_id", "score", "rn")
          .orderBy("q_id", "rn")
      },
      Some(s"""WITH ${Dedup.normalizedSql},
               fb0 AS (
                 SELECT a.vec_id AS q_id, b.vec_id AS n_id, b.u AS n_u,
                   list_dot_product(a.u, b.u) AS cs
                 FROM u a JOIN u b
                   ON a.vec_id < 10 AND b.vec_id != a.vec_id),
               fbr AS (
                 SELECT q_id, n_id, n_u,
                   CAST(row_number() OVER (PARTITION BY q_id
                        ORDER BY cs DESC, n_id) AS INTEGER) AS rn
                 FROM fb0),
               fb AS (SELECT q_id, n_id, n_u, rn FROM fbr WHERE rn <= $k0),
               piv AS (
                 SELECT q_id,
                   max(CASE WHEN rn = 1 THEN n_u END) AS v1,
                   max(CASE WHEN rn = 2 THEN n_u END) AS v2,
                   max(CASE WHEN rn = 3 THEN n_u END) AS v3
                 FROM fb GROUP BY q_id),
               ref AS (
                 SELECT p.q_id,
                   list_transform(range(1, len(q.u) + 1),
                     i -> q.u[i] + $beta * (((p.v1[i] + p.v2[i]) + p.v3[i]) / 3.0)) AS qr
                 FROM piv p JOIN u q ON q.vec_id = p.q_id),
               sc AS (
                 SELECT r.q_id, c.vec_id AS n_id,
                   list_dot_product(r.qr, c.u) AS score
                 FROM ref r JOIN u c ON c.vec_id != r.q_id
                 WHERE NOT EXISTS (SELECT 1 FROM fb
                   WHERE fb.q_id = r.q_id AND fb.n_id = c.vec_id)),
               rk AS (
                 SELECT q_id, n_id, score,
                   CAST(row_number() OVER (PARTITION BY q_id
                        ORDER BY score DESC, n_id) AS INTEGER) AS rn
                 FROM sc)
               SELECT q_id, n_id, score, rn FROM rk WHERE rn <= $k
               ORDER BY q_id, rn"""))
  }

  /** s17 — IVF cell-balance audit (the standard index-health check an
    * ANN deployment runs before serving: Jégou et al. TPAMI 2011 §V
    * discuss how unbalanced inverted lists destroy the speedup — a
    * probe into a mega-cell scans far more than N/K). Per cell of the
    * s03b pinned-centroid index: population, share of corpus, and
    * imbalance = n·K/N (1.0 = perfectly balanced); plus two
    * whole-index health scalars on every row — balance_factor =
    * max-cell imbalance, and scan_frac = Σ share² (the expected
    * fraction of the corpus a 1-probe query scans when queries are
    * drawn from the corpus distribution itself — the quantity that
    * degrades from 1/K toward 1 as the index skews).
    *
    * Determinism: populations are exact longs from s03b's bit-exact
    * assignment (max-dot fold, (dot DESC, id ASC) tiebreak); Σn² is an
    * exact long sum; every reported real is ONE fixed-shape division
    * over those longs.
    *
    * Scale shape: the corpus reduces to K rows in one count agg keyed
    * by the assignment (broadcast centroids, no corpus shuffle beyond
    * the K-domain aggregation); windows run over the K-row relation. */
  val ivfBalance: QueryDef = {
    val kCentroids = 16
    QueryDef(
      "s17_ivf_balance",
      (s, d) => {
        // consume the session-materialized pinned index (s03b's stage);
        // kCentroids documents the contract the shared stage pins
        require(kCentroids == 16, "pinnedAssigned builds the k=16 index")
        val cells = pinnedAssigned(s, d)
          .groupBy("cluster").agg(count(lit(1)).as("n_vecs"))
        val whole = Window.partitionBy(lit(1))
        cells
          .withColumn("n_total", sum(col("n_vecs")).over(whole))
          .withColumn("k_cells", count(lit(1)).over(whole))
          .withColumn("max_n", max(col("n_vecs")).over(whole))
          .withColumn("sumsq", sum(expr("n_vecs * n_vecs")).over(whole))
          .selectExpr("cluster", "n_vecs",
            "round(CAST(n_vecs AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS share",
            "round(CAST(n_vecs * k_cells AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS imbalance",
            "round(CAST(max_n * k_cells AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS balance_factor",
            "round(CAST(sumsq AS DOUBLE) / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)), 6) AS scan_frac")
          .orderBy("cluster")
      },
      Some(s"""WITH ${Dedup.normalizedSql},
               cents AS (
                 SELECT vec_id AS c_id, u AS c_u FROM u
                 WHERE vec_id < $kCentroids),
               ad AS (
                 SELECT u.vec_id, c.c_id, list_dot_product(u.u, c.c_u) AS c_dot
                 FROM u, cents c),
               asg AS (
                 SELECT vec_id, c_id AS cluster FROM (
                   SELECT vec_id, c_id,
                     row_number() OVER (PARTITION BY vec_id
                       ORDER BY c_dot DESC, c_id) AS crn
                   FROM ad)
                 WHERE crn = 1),
               cells AS (
                 SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs
                 FROM asg GROUP BY 1),
               g AS (
                 SELECT *,
                   CAST(sum(n_vecs) OVER () AS BIGINT) AS n_total,
                   CAST(count(*) OVER () AS BIGINT) AS k_cells,
                   CAST(max(n_vecs) OVER () AS BIGINT) AS max_n,
                   CAST(sum(n_vecs * n_vecs) OVER () AS BIGINT) AS sumsq
                 FROM cells)
               SELECT cluster, n_vecs,
                 round(CAST(n_vecs AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
                   AS share,
                 round(CAST(n_vecs * k_cells AS DOUBLE)
                   / CAST(n_total AS DOUBLE), 6) AS imbalance,
                 round(CAST(max_n * k_cells AS DOUBLE)
                   / CAST(n_total AS DOUBLE), 6) AS balance_factor,
                 round(CAST(sumsq AS DOUBLE)
                   / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)), 6)
                   AS scan_frac
               FROM g ORDER BY cluster"""))
  }

  /** s18 — product-quantization distortion audit (Jégou, Douze &
    * Schmid, "Product quantization for nearest neighbor search", TPAMI
    * 2011 §III.B: quantizer quality IS its mean squared reconstruction
    * error): for s06's exact PQ configuration (m=4 subspaces × 16
    * dims, 16-entry codebooks from the low-id vectors), the per-
    * subspace assignment error ‖x_sub − c(x_sub)‖² is summed over the
    * corpus — the readout that tells an index operator WHICH subspace's
    * codebook is under-trained before recall degrades (completes the
    * index-health family: s08 recall, s13 cost curve, s17 balance).
    *
    * Determinism: each vector's min-distance is the SAME fixed-shape
    * fold s06 assigns codes with (identical double in both engines —
    * the min over an identical double set); it is integerized to
    * pico-units (×10¹²) BEFORE the corpus sum, so per-subspace SSE is
    * an exact long (order-free). MSE is one final division.
    *
    * Scale shape: codebooks broadcast inside the expression (k·dsub
    * literals — the s06 discipline); the corpus is scanned ONCE with
    * all m min-folds in the row, then ONE m-row aggregate. No joins,
    * no window, nothing leaves the scan but m running sums. */
  val pqDistortion: QueryDef = {
    val m = 4; val dsub = 16; val kCode = 16
    def build(s: org.apache.spark.sql.SparkSession,
        d: String): org.apache.spark.sql.DataFrame = {
      val u = Dedup.normalized(s, d, "id", "u")
      val cb = u.filter(col("id") < kCode)
        .select(col("id"), col("u")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).sortBy(_._1)
      if (cb.isEmpty) {
        require(u.isEmpty,
          s"non-empty corpus has no codebook vectors with id < $kCode")
        return u.filter(lit(false))
          .select(col("id").as("subspace"), col("id").as("n_vecs"),
            col("id").as("sse_e12"), lit(0.0).as("mse"))
      }
      def cbArr(j: Int): String = cb.map { case (_, vec) =>
        vec.slice(j * dsub, (j + 1) * dsub)
          .map(x => s"${x}D").mkString("array(", ", ", ")")
      }.mkString("array(", ", ", ")")
      val minCols = (0 until m).map { j =>
        expr(s"""CAST(round(aggregate(
          transform(${cbArr(j)}, c ->
            aggregate(zip_with(slice(u, ${j * dsub + 1}, $dsub), c,
              (x, y) -> (x - y) * (x - y)), 0D, (a, v) -> a + v)),
          CAST('Infinity' AS DOUBLE),
          (acc, x) -> IF(x < acc, x, acc)) * 1000000000000) AS BIGINT)""")
          .as(s"dd$j")
      }
      u.select(minCols: _*)
        .selectExpr(s"stack($m, " + (0 until m)
          .map(j => s"$j, dd$j").mkString(", ") + ") AS (subspace, dd)")
        .groupBy("subspace")
        .agg(count(lit(1)).as("n_vecs"), sum(col("dd")).as("sse_e12"))
        .withColumn("mse", expr(
          "round(CAST(sse_e12 AS DOUBLE) / (1e12 * CAST(n_vecs AS DOUBLE)), 9)"))
        .orderBy("subspace")
    }
    QueryDef(
      "s18_pq_distortion",
      (s, d) => build(s, d),
      Some {
        def fold(elemExpr: String) =
          s"""list_reduce(list_prepend(0.0,
               list_transform(range(1, $dsub + 1), i -> $elemExpr)),
               (x, y) -> x + y)"""
        s"""WITH ${Dedup.normalizedSql},
            cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, u
                   FROM u WHERE vec_id < $kCode),
            js AS (SELECT unnest(range(0, $m)) AS j),
            dd AS (
              SELECT s.vec_id, js.j,
                min(${fold(s"(s.u[js.j * $dsub + i] - c.u[js.j * $dsub + i]) * " +
                           s"(s.u[js.j * $dsub + i] - c.u[js.j * $dsub + i])")})
                  AS dd
              FROM u s, js, cb c
              GROUP BY 1, 2)
            SELECT CAST(j AS INT) AS subspace,
              count(*) AS n_vecs,
              CAST(sum(CAST(round(dd * 1000000000000) AS BIGINT))
                AS BIGINT) AS sse_e12,
              round(CAST(sum(CAST(round(dd * 1000000000000) AS BIGINT))
                AS DOUBLE) / (1e12 * CAST(count(*) AS DOUBLE)), 9) AS mse
            FROM dd GROUP BY 1 ORDER BY 1"""
      })
  }

  /** s19 — reindex migration matrix (the operational audit behind any
    * IVF centroid refresh: re-training the coarse quantizer moves
    * vectors between cells, and the migration matrix old-cell →
    * new-cell tells the operator how much of the index must physically
    * move — FAISS calls this the "reassignment cost" of an index
    * rebuild): the corpus is assigned to the CURRENT codebook (s03b's
    * pinned low-id panel) and to a REFRESHED codebook (the next 16 ids
    * — a deterministic stand-in for re-trained centroids), and each
    * (old_cid, new_cid) cell reports its vector count and corpus
    * share.
    *
    * Determinism: both assignments are the s06 argmin fold (identical
    * double set → identical min; position ties break to the earlier
    * centroid in BOTH engines); counts exact; shares exact integer
    * ppm.
    *
    * Scale shape: both codebooks ride INSIDE the row expression (k·d
    * literals, the s06 discipline) — the corpus is scanned ONCE with
    * two argmin folds per row and shuffles only the ≤k² matrix agg.
    * No joins touch vector data. */
  val reindexChurn: QueryDef = {
    val kCode = 16
    def build(s: org.apache.spark.sql.SparkSession,
        d: String): org.apache.spark.sql.DataFrame = {
      val u = Dedup.normalized(s, d, "id", "u")
      val both = u.filter(col("id") < 2 * kCode)
        .select(col("id"), col("u")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).sortBy(_._1)
      val (cb1, cb2) = (both.filter(_._1 < kCode),
        both.filter(_._1 >= kCode))
      if (cb1.isEmpty || cb2.isEmpty) {
        require(u.isEmpty,
          s"non-empty corpus lacks one of the id<$kCode / id<${2 * kCode} codebooks")
        return u.filter(lit(false))
          .select(col("id").as("old_cid"), col("id").as("new_cid"),
            col("id").as("n"), col("id").as("share_ppm"))
      }
      def argmin(cb: Array[(Long, Seq[Double])]): String = {
        val arr = cb.zipWithIndex.map { case ((_, vec), pos) =>
          s"struct(CAST($pos AS INT) AS cid, " +
            vec.map(x => s"${x}D").mkString("array(", ", ", ")") + " AS cu)"
        }.mkString("array(", ", ", ")")
        s"""aggregate(
          transform($arr, c -> struct(
            aggregate(zip_with(u, c.cu, (x, y) -> (x - y) * (x - y)),
              0D, (a, v) -> a + v) AS dd, c.cid AS cid)),
          struct(CAST('Infinity' AS DOUBLE) AS dd, -1 AS cid),
          (acc, x) -> IF(x.dd < acc.dd, x, acc)).cid"""
      }
      val tot = u.agg(count(lit(1)).as("n_total"))
      u.select(expr(argmin(cb1)).as("old_cid"),
        expr(argmin(cb2)).as("new_cid"))
        .groupBy("old_cid", "new_cid")
        .agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(tot))
        .withColumn("share_ppm", expr("(1000000 * n) DIV n_total"))
        .select("old_cid", "new_cid", "n", "share_ppm")
        .orderBy("old_cid", "new_cid")
    }
    QueryDef(
      "s19_reindex_churn",
      (s, d) => build(s, d),
      Some {
        def fold(tbl: String) =
          s"""list_reduce(list_prepend(0.0,
               list_transform(range(1, 65),
                 i -> (s.u[i] - $tbl.u[i]) * (s.u[i] - $tbl.u[i]))),
               (x, y) -> x + y)"""
        def codes(cbName: String, lo: Int, hi: Int) =
          s"""${cbName}_cb AS (
                SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, u
                FROM u WHERE vec_id >= $lo AND vec_id < $hi),
              ${cbName}_dd AS (
                SELECT s.vec_id, c.cid, ${fold("c")} AS dd
                FROM u s, ${cbName}_cb c),
              ${cbName}_codes AS (
                SELECT vec_id, cid FROM (
                  SELECT vec_id, cid, row_number() OVER (
                    PARTITION BY vec_id ORDER BY dd ASC, cid ASC) AS rn
                  FROM ${cbName}_dd)
                WHERE rn = 1)"""
        s"""WITH ${Dedup.normalizedSql},
            ${codes("old", 0, kCode)},
            ${codes("new", kCode, 2 * kCode)},
            tot AS (SELECT count(*) AS n_total FROM u)
            SELECT o.cid AS old_cid, n.cid AS new_cid,
              count(*) AS n,
              (1000000 * count(*)) // max(tot.n_total) AS share_ppm
            FROM old_codes o
            JOIN new_codes n ON n.vec_id = o.vec_id
            CROSS JOIN tot
            GROUP BY 1, 2 ORDER BY 1, 2"""
      })
  }

  /** s20 — cosine RANGE search (radius query: ALL neighbors with
    * similarity ≥ θ, not a fixed k — the retrieval mode behind
    * dedup-by-similarity-threshold and ε-neighborhood density, e.g.
    * FAISS `range_search`; DBSCAN's ε-query is exactly this). Per
    * query: match count, exact Σ of integerized similarities, and the
    * best match (argmax with id tie-break). Queries with NO match in
    * range still report (the s13/d20 domain-frame lesson: zero rows
    * must not vanish) with best_id = −1.
    *
    * Determinism: the threshold is applied to the 10⁻⁶-integerized
    * cosine — an exact integer comparison, so a pair at the radius
    * boundary can never flip on float noise; the per-pair doubles
    * themselves are bit-identical across engines (the d05/s01 verified
    * fold-order discipline); sums are exact longs.
    *
    * Scale shape: s01's broadcast-query-panel scan — the corpus never
    * shuffles, the radius filter runs inside the scan stage, and the
    * per-query agg/argmax windows are bounded by the match sets. The
    * 100 TB path swaps the full scan for s03b's IVF cell pruning with
    * the same downstream frame. */
  val rangeSearch: QueryDef = {
    val thetaE6 = 300000L // cos >= 0.30
    val nQ = 8
    QueryDef(
      "s20_range_search",
      (s, d) => {
        graft.expr.ArrayDot.register(s)
        val q = Dedup.normalized(s, d, "q_id", "q_u").filter(col("q_id") < nQ)
        val c = Dedup.normalized(s, d, "n_id", "n_u")
        val pairs = broadcast(q).join(c, col("q_id") =!= col("n_id"))
          .withColumn("cos_e6",
            expr("CAST(round(array_dot(q_u, n_u) * 1000000) AS BIGINT)"))
          .filter(col("cos_e6") >= thetaE6)
        val agg = pairs.groupBy("q_id")
          .agg(count(lit(1)).as("n_within"),
            sum(col("cos_e6")).as("sum_cos_e6"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cos_e6").desc, col("n_id"))
        val best = pairs.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("q_id"), col("n_id").as("best_id"),
            col("cos_e6").as("best_cos_e6"))
        q.select("q_id")
          .join(agg, Seq("q_id"), "left")
          .join(best, Seq("q_id"), "left")
          .na.fill(0L, Seq("n_within", "sum_cos_e6", "best_cos_e6"))
          .na.fill(-1L, Seq("best_id"))
          .orderBy("q_id")
      },
      Some(s"""WITH ${Dedup.normalizedSql},
               p AS (
                 SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                   CAST(round(${Dedup.pairDotSql} * 1000000) AS BIGINT)
                     AS cos_e6
                 FROM u a JOIN u b
                   ON a.vec_id < $nQ AND b.vec_id != a.vec_id),
               m AS (SELECT * FROM p WHERE cos_e6 >= $thetaE6),
               agg AS (
                 SELECT q_id, CAST(count(*) AS BIGINT) AS n_within,
                   CAST(sum(cos_e6) AS BIGINT) AS sum_cos_e6
                 FROM m GROUP BY 1),
               best AS (
                 SELECT q_id, n_id AS best_id, cos_e6 AS best_cos_e6
                 FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                         ORDER BY cos_e6 DESC, n_id) AS rn FROM m)
                 WHERE rn = 1)
               SELECT q.vec_id AS q_id,
                 coalesce(agg.n_within, 0) AS n_within,
                 coalesce(agg.sum_cos_e6, 0) AS sum_cos_e6,
                 coalesce(best.best_id, -1) AS best_id,
                 coalesce(best.best_cos_e6, 0) AS best_cos_e6
               FROM (SELECT vec_id FROM u WHERE vec_id < $nQ) q
               LEFT JOIN agg ON agg.q_id = q.vec_id
               LEFT JOIN best ON best.q_id = q.vec_id
               ORDER BY q_id"""))
  }

  /** s21 — deterministic farthest-first centroid seeding (Gonzalez,
    * "Clustering to minimize the maximum intercluster distance", TCS
    * 1985 — the 2-approximation for k-center, and the argmax-instead-
    * of-sample variant of k-means++ D² seeding, Arthur & Vassilvitskii
    * SODA 2007): seed 0 is vec 0, each next seed is the corpus vector
    * FARTHEST from the chosen set (squared unit-vector distance
    * 2−2·cos, ties to the smallest id). Reports, per seed: its
    * selection distance (the k-center coverage radius at that step)
    * and the census + total distance of the vectors it serves —
    * the init-quality readout before s07's Lloyd iterations.
    *
    * Determinism: every pair distance is the verified bit-identical
    * fold (d05/s01 discipline); argmax ties break on vec_id; the
    * selection loop is k−1 bounded driver collects (d13's pinned-
    * centroid pattern: chosen vectors re-enter as exact round-trip
    * literals — `Double.toString` parses back bit-identical); output
    * distances are 10⁻⁹-integerized per row before exact sums. The
    * DuckDB mirror unrolls the same k−1 steps as chained CTEs with
    * incremental `least` — the same IEEE min over the same doubles.
    *
    * Scale shape: k−1 full scans + one assignment scan, each a narrow
    * map under a bounded (≤k-vector) literal/broadcast — no shuffle
    * touches the corpus; exactly how a distributed k-center init runs
    * at 100 TB (k bounded passes, argmax as a tree-reduce TakeOrdered). */
  val farthestFirst: QueryDef = {
    val k = 4
    QueryDef(
      "s21_farthest_first",
      (s, d) => {
        graft.expr.ArrayDot.register(s)
        import s.implicits._
        val uv = Dedup.normalized(s, d, "vec_id", "u")
        def lit64(v: Array[Double]): String =
          s"array(${v.map(x => s"CAST(${x}D AS DOUBLE)").mkString(", ")})"
        val first = uv.filter(col("vec_id") === 0L)
          .select("u").head.getSeq[Double](0).toArray
        var chosen = Vector((0L, first, 0.0))
        while (chosen.size < k) {
          val minDist = chosen.map { case (_, v, _) =>
            s"(2.0D - 2.0D * array_dot(u, ${lit64(v)}))" }
            .reduce((a, bb) => s"least($a, $bb)")
          val excl = chosen.map(_._1).mkString(", ")
          val row = uv.filter(s"vec_id NOT IN ($excl)")
            .withColumn("md", expr(minDist))
            .orderBy(col("md").desc, col("vec_id"))
            .limit(1).select("vec_id", "u", "md").head
          chosen = chosen :+ ((row.getLong(0),
            row.getSeq[Double](1).toArray, row.getDouble(2)))
        }
        val cents = chosen.zipWithIndex.map { case ((id, v, md), rk) =>
          (rk.toLong, id, v,
            BigDecimal(md * 1e9).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact)
        }.toDF("rk", "cid", "cu", "sel_dist_e9")
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("dist"), col("rk"))
        uv.crossJoin(broadcast(cents))
          .withColumn("dist", expr("2.0D - 2.0D * array_dot(u, cu)"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .groupBy("rk", "cid", "sel_dist_e9")
          .agg(count(lit(1)).as("n_assigned"),
            sum(expr("CAST(round(dist * 1000000000) AS BIGINT)"))
              .as("sum_dist_e9"))
          .select("rk", "cid", "sel_dist_e9", "n_assigned", "sum_dist_e9")
          .orderBy("rk")
      },
      Some(s"""WITH ${Dedup.normalizedSql},
               c0 AS (SELECT vec_id, u FROM u WHERE vec_id = 0),
               d1 AS (
                 SELECT a.vec_id, a.u,
                   (2.0 - 2.0 * list_dot_product(a.u, c.u)) AS md
                 FROM u a, c0 c WHERE a.vec_id != 0),
               c1 AS (SELECT vec_id, u, md FROM d1
                      ORDER BY md DESC, vec_id LIMIT 1),
               d2 AS (
                 SELECT a.vec_id, a.u,
                   least(a.md, 2.0 - 2.0 * list_dot_product(a.u, c.u)) AS md
                 FROM d1 a, c1 c WHERE a.vec_id != c.vec_id),
               c2 AS (SELECT vec_id, u, md FROM d2
                      ORDER BY md DESC, vec_id LIMIT 1),
               d3 AS (
                 SELECT a.vec_id, a.u,
                   least(a.md, 2.0 - 2.0 * list_dot_product(a.u, c.u)) AS md
                 FROM d2 a, c2 c WHERE a.vec_id != c.vec_id),
               c3 AS (SELECT vec_id, u, md FROM d3
                      ORDER BY md DESC, vec_id LIMIT 1),
               cents AS (
                 SELECT CAST(0 AS BIGINT) AS rk, vec_id AS cid, u AS cu,
                   CAST(0 AS BIGINT) AS sel_dist_e9 FROM c0
                 UNION ALL
                 SELECT 1, vec_id, u,
                   CAST(round(md * 1000000000) AS BIGINT) FROM c1
                 UNION ALL
                 SELECT 2, vec_id, u,
                   CAST(round(md * 1000000000) AS BIGINT) FROM c2
                 UNION ALL
                 SELECT 3, vec_id, u,
                   CAST(round(md * 1000000000) AS BIGINT) FROM c3),
               asg AS (
                 SELECT rk, cid, sel_dist_e9, dist,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY dist, rk) AS rn
                 FROM (
                   SELECT a.vec_id, c.rk, c.cid, c.sel_dist_e9,
                     (2.0 - 2.0 * list_dot_product(a.u, c.cu)) AS dist
                   FROM u a CROSS JOIN cents c))
               SELECT rk, cid, sel_dist_e9,
                 CAST(count(*) AS BIGINT) AS n_assigned,
                 CAST(sum(CAST(round(dist * 1000000000) AS BIGINT))
                   AS BIGINT) AS sum_dist_e9
               FROM asg WHERE rn = 1
               GROUP BY 1, 2, 3 ORDER BY rk"""))
  }

  /** s22 — per-dimension embedding-health audit (the encoder-QA scan
    * run before any index is built: dimensional collapse — a dimension
    * whose variance is ~0 carries no information and signals a
    * degenerate encoder or a dead unit (cf. Jing et al. ICLR 2022 on
    * representation collapse; Ethayarajh EMNLP 2019's anisotropy
    * measurements) — plus range anomalies that break int8 quantization
    * (s05's scale assumes a sane min/max)): per dimension, n, exact
    * integer mean/min/max, the exact variance, and a collapsed flag.
    *
    * Determinism: elements are 10⁻⁶-integerized per row (fixed-shape
    * float→double→round, identical on both engines); the variance
    * numerator n·Σx²−(Σx)² is exact 128-bit (Σx² exceeds BIGINT at
    * corpus scale — the x50 overflow lesson), emitted as var_e12 via
    * integral divide; mean is sign-split DIV. Scale shape: ONE
    * explode-scan into a map-side partial agg on the dim key — 64
    * groups regardless of corpus size; no join, no window, no second
    * pass. The 100 TB form of "did my encoder collapse" costs exactly
    * one pass. */
  val embeddingHealth: QueryDef = {
    import graft.core.Fixed
    QueryDef(
      "s22_embedding_health",
      (s, d) => {
        Tables.embeddings(s, d)
          .select(posexplode(col("embedding")).as(Seq("dim", "v")))
          .select(col("dim").cast("long").as("dim"),
            expr("CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)")
              .as("x"))
          .groupBy("dim")
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
            min(col("x")).as("min_e6"), max(col("x")).as("max_e6"))
          .withColumn("mean_e6",
            expr(Fixed.sdiv("sx", "n", "DIV")).cast("long"))
          .withColumn("var_e12",
            expr("""CAST((CAST(n AS DECIMAL(38,0)) * sxx
                      - CAST(sx AS DECIMAL(38,0)) * sx)
                    DIV (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"""))
          .withColumn("collapsed", col("var_e12") < 1000000000L)
          .select("dim", "n", "mean_e6", "var_e12", "min_e6", "max_e6",
            "collapsed")
          .orderBy("dim")
      },
      Some(s"""WITH x AS (
                 SELECT CAST(t.i - 1 AS BIGINT) AS dim,
                   CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1000000)
                     AS BIGINT) AS x
                 FROM embeddings,
                   unnest(range(1, len(embedding) + 1)) AS t(i)),
               a AS (
                 SELECT dim, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                   CAST(min(x) AS BIGINT) AS min_e6,
                   CAST(max(x) AS BIGINT) AS max_e6
                 FROM x GROUP BY 1),
               b AS (
                 SELECT dim, n,
                   CAST(${Fixed.sdiv("sx", "n", "//")} AS BIGINT)
                     AS mean_e6,
                   CAST((CAST(n AS HUGEINT) * sxx
                       - CAST(sx AS HUGEINT) * sx)
                     // (CAST(n AS HUGEINT) * n) AS BIGINT) AS var_e12,
                   min_e6, max_e6
                 FROM a)
               SELECT dim, n, mean_e6, var_e12, min_e6, max_e6,
                 var_e12 < 1000000000 AS collapsed
               FROM b ORDER BY dim"""))
  }

  /** s23 — embedding-space anisotropy panel (Ethayarajh EMNLP 2019:
    * contextual embeddings are ANISOTROPIC — random pairs average a
    * large positive cosine, which silently inflates every similarity
    * score and breaks absolute thresholds like s20's radius; the mean
    * random-pair cosine is the standard correction baseline): all
    * pairwise cosines over a FIXED 100-vector panel (the s01
    * bounded-panel idiom — 4 950 exact pairs at any corpus size),
    * 10⁻⁶-integerized per pair, with exact integer mean/min/max and
    * the negative / >0.5 pair counts.
    *
    * Determinism: each cosine is the shared unitized fold
    * ([[Dedup.unitized]] / list_dot_product — bit-identical engines),
    * integerized BEFORE aggregation so the mean is an exact integer
    * (never a float sum). Scale shape: panel² is CONSTANT (100×99/2);
    * the only corpus-touching work is reading 100 vectors — this is
    * the calibration probe you run per release, not a corpus scan. */
  val anisotropyPanel: QueryDef = {
    import graft.core.Fixed
    QueryDef(
      "s23_anisotropy_panel",
      (s, d) => {
        graft.expr.ArrayDot.register(s)
        val panel = Dedup.normalized(s, d, "vec_id", "u")
          .filter(col("vec_id") < 100)
        val a = panel.select(col("vec_id").as("a_id"), col("u").as("a_u"))
        val b = panel.select(col("vec_id").as("b_id"), col("u").as("b_u"))
        broadcast(a).join(b, col("a_id") < col("b_id"))
          .withColumn("cos_ppm",
            expr("CAST(round(array_dot(a_u, b_u) * 1000000) AS BIGINT)"))
          .agg(
            expr("CAST(count(DISTINCT a_id) + 1 AS BIGINT)").as("n_panel"),
            expr("CAST(count(*) AS BIGINT)").as("n_pairs"),
            expr("CAST(sum(cos_ppm) AS BIGINT)").as("sc"),
            min(col("cos_ppm")).as("min_cos_ppm"),
            max(col("cos_ppm")).as("max_cos_ppm"),
            expr("CAST(sum(CASE WHEN cos_ppm < 0 THEN 1 ELSE 0 END) " +
              "AS BIGINT)").as("n_neg"),
            expr("CAST(sum(CASE WHEN cos_ppm > 500000 THEN 1 ELSE 0 END) " +
              "AS BIGINT)").as("n_above_half"))
          .withColumn("mean_cos_ppm",
            expr(Fixed.sdiv("sc", "n_pairs", "DIV")).cast("long"))
          .select("n_panel", "n_pairs", "mean_cos_ppm", "min_cos_ppm",
            "max_cos_ppm", "n_neg", "n_above_half")
      },
      Some(s"""WITH ${Dedup.normalizedSql},
               p AS (
                 SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   CAST(round(${Dedup.pairDotSql} * 1000000) AS BIGINT)
                     AS cos_ppm
                 FROM u a JOIN u b ON a.vec_id < 100 AND b.vec_id < 100
                   AND a.vec_id < b.vec_id)
               SELECT CAST(count(DISTINCT a_id) + 1 AS BIGINT) AS n_panel,
                 CAST(count(*) AS BIGINT) AS n_pairs,
                 CAST(${Fixed.sdiv("CAST(sum(cos_ppm) AS BIGINT)",
                   "count(*)", "//")} AS BIGINT) AS mean_cos_ppm,
                 CAST(min(cos_ppm) AS BIGINT) AS min_cos_ppm,
                 CAST(max(cos_ppm) AS BIGINT) AS max_cos_ppm,
                 CAST(sum(CASE WHEN cos_ppm < 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_neg,
                 CAST(sum(CASE WHEN cos_ppm > 500000 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_above_half
               FROM p"""))
  }

  /** s24 — scalar-quantization width sweep (the bits-per-dimension
    * pricing table next to s06's PQ and e13/e14's size sweeps — the
    * int8-vs-int4 decision every vector store now exposes, cf. FAISS
    * SQ4/SQ8 and Milvus/Qdrant scalar quantization): symmetric
    * round(x·L) quantization of the unit-normalized corpus at
    * L = 1/7/127 (2/4/8 signed bits), with the exact reconstruction-
    * error census per width from ONE element scan — every width's
    * error computed in-row, never three passes.
    *
    * Determinism: err_e6 = round(x·10⁶) − round((q/L)·10⁶) — two
    * fixed-shape integerizations of the same stored double; squared
    * sums in 128-bit (the x50 overflow lesson — err² terms reach
    * 2.5·10¹¹ at b=2, corpus-scale sums pass 2⁶³); MSE via integral
    * divide. Scale shape: explode-scan → one global agg carrying all
    * three widths' moments; the 3-row sweep is a constant-size
    * reshape. */
  val quantizationSweep: QueryDef = {
    val widths = Seq((2, 1), (4, 7), (8, 127))
    def errExpr(l: Int) =
      s"abs(CAST(round(x * 1000000) AS BIGINT) - " +
        s"CAST(round(CAST(round(x * $l) AS DOUBLE) / $l * 1000000) " +
        s"AS BIGINT))"
    QueryDef(
      "s24_quantization_sweep",
      (s, d) => {
        val el = Dedup.normalized(s, d, "vec_id", "u")
          .select(explode(col("u")).as("x"))
        val aggs = widths.flatMap { case (b, l) =>
          Seq(
            sum(expr(s"CAST(${errExpr(l)} AS DECIMAL(38,0)) * ${errExpr(l)}"))
              .as(s"sse_$b"),
            max(expr(errExpr(l))).as(s"me_$b"))
        } :+ count(lit(1)).as("n_elems")
        // 1-row moments frame, checkpointed: the 3-row reshape below
        // references it once per width (the g19 multi-ref lesson —
        // un-checkpointed, each branch would rescan the corpus)
        val one = el.agg(aggs.head, aggs.tail: _*).localCheckpoint()
        widths.map { case (b, l) =>
          one.select(lit(b.toLong).as("bits"), lit(l.toLong).as("levels"),
            col("n_elems"),
            expr(s"CAST(sse_$b DIV n_elems AS BIGINT)").as("mse_e12"),
            col(s"me_$b").as("max_abs_err_e6"))
        }.reduce(_ unionByName _).orderBy("bits")
      },
      Some {
        def derr(l: Int) =
          s"abs(CAST(round(x * 1000000) AS BIGINT) - " +
            s"CAST(round(CAST(round(x * $l) AS DOUBLE) / $l * 1000000) " +
            s"AS BIGINT))"
        val mcols = widths.map { case (b, l) =>
          s"""CAST(sum(CAST(${derr(l)} AS HUGEINT) * ${derr(l)})
                AS HUGEINT) AS sse_$b,
              CAST(max(${derr(l)}) AS BIGINT) AS me_$b"""
        }.mkString(",\n")
        val rows = widths.map { case (b, l) =>
          s"""SELECT CAST($b AS BIGINT) AS bits,
                CAST($l AS BIGINT) AS levels, n_elems,
                CAST(sse_$b // n_elems AS BIGINT) AS mse_e12,
                me_$b AS max_abs_err_e6
              FROM a"""
        }.mkString("\nUNION ALL\n")
        s"""WITH ${Dedup.normalizedSql},
            el AS (
              SELECT u.u[ei] AS x
              FROM u, unnest(range(1, len(u.u) + 1)) AS t(ei)),
            a AS MATERIALIZED (
              SELECT CAST(count(*) AS BIGINT) AS n_elems,
                $mcols
              FROM el)
            SELECT * FROM ($rows) ORDER BY bits"""
      })
  }

  /** s25 — Matryoshka truncated-dimension retrieval sweep (Kusupati et
    * al. NeurIPS 2022 MRL — serving stacks rank with the first k
    * dimensions and rescore with the rest; the operational question is
    * how much ranking quality each prefix width keeps): for the s01
    * query panel, top-5 retrieval under prefix dots at k = 8/16/32/64
    * vs the full-dimension exact ranking — overlap@5 and rank-1
    * agreement per width, ALL widths' dots computed in-row from ONE
    * pair scan (the s24/e13 pricing-table idiom applied to dimension
    * count).
    *
    * Determinism: every dot is the shared sequential fold over a
    * prefix slice (bit-identical engines); ranks tiebreak on n_id;
    * overlaps are exact integers. Scale shape: one panel×corpus scan
    * (s01's bounded-panel law), four q_id-partitioned windows on the
    * SAME shuffle, a 4-row reshape at the end. */
  val matryoshkaSweep: QueryDef = {
    val ks = Seq(8, 16, 32, 64)
    QueryDef(
      "s25_matryoshka_sweep",
      (s, d) => {
        graft.expr.ArrayDot.register(s)
        val q = Dedup.normalized(s, d, "q_id", "q_u")
          .filter(col("q_id") < 10)
        val c = Dedup.normalized(s, d, "n_id", "n_u")
        var pairs = broadcast(q).join(c, col("q_id") =!= col("n_id"))
        ks.foreach { k =>
          pairs = pairs.withColumn(s"d$k",
            expr(s"aggregate(zip_with(slice(q_u, 1, $k), " +
              s"slice(n_u, 1, $k), (x, y) -> x * y), 0D, " +
              "(acc, v) -> acc + v)"))
        }
        ks.foreach { k =>
          val w = Window.partitionBy(col("q_id"))
            .orderBy(col(s"d$k").desc, col("n_id"))
          pairs = pairs.withColumn(s"rn$k", row_number().over(w))
        }
        val marked = pairs.select(
          (Seq(col("q_id")) ++
            ks.map(k => (col(s"rn$k") <= 5).as(s"in$k")) ++
            ks.map(k => (col(s"rn$k") === 1).as(s"r1_$k"))): _*)
        val aggCols = ks.flatMap { k =>
          Seq(
            sum(when(col(s"in$k") && col("in64"), 1L).otherwise(0L))
              .as(s"ov_$k"),
            sum(when(col(s"r1_$k") && col("r1_64"), 1L).otherwise(0L))
              .as(s"r1m_$k"))
        } :+ countDistinct(col("q_id")).as("n_queries")
        // checkpointed 1-row frame: the 4-row reshape references it
        // once per width (the s24/g19 multi-ref lesson)
        val one = marked.agg(aggCols.head, aggCols.tail: _*)
          .localCheckpoint()
        ks.map { k =>
          one.select(lit(k.toLong).as("k_dims"), col("n_queries"),
            col(s"ov_$k").as("overlap_at5"),
            col(s"r1m_$k").as("rank1_match"))
        }.reduce(_ unionByName _).orderBy("k_dims")
      },
      Some {
        val dots = ks.map(k =>
          s"list_dot_product(a.u[1:$k], b.u[1:$k]) AS d$k").mkString(", ")
        val rns = ks.map(k =>
          s"""CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY d$k DESC, n_id) AS BIGINT) AS rn$k""").mkString(", ")
        val aggs = ks.map(k =>
          s"""CAST(sum(CASE WHEN rn$k <= 5 AND rn64 <= 5 THEN 1 ELSE 0 END)
                AS BIGINT) AS ov_$k,
              CAST(sum(CASE WHEN rn$k = 1 AND rn64 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS r1m_$k""").mkString(",\n")
        val rows = ks.map(k =>
          s"""SELECT CAST($k AS BIGINT) AS k_dims, n_queries,
                ov_$k AS overlap_at5, r1m_$k AS rank1_match FROM agg""")
          .mkString("\nUNION ALL\n")
        s"""WITH ${Dedup.normalizedSql},
            p AS (
              SELECT a.vec_id AS q_id, b.vec_id AS n_id, $dots
              FROM u a JOIN u b
                ON a.vec_id < 10 AND b.vec_id != a.vec_id),
            r AS (SELECT q_id, n_id, $rns FROM p),
            agg AS MATERIALIZED (
              SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries,
                $aggs
              FROM r)
            SELECT * FROM ($rows) ORDER BY k_dims"""
      })
  }

  /** s26 — hybrid retrieval via reciprocal-rank fusion of the sparse
    * BM25 leg (t42) and the dense int8 leg (s05's exact integer
    * ranking), the standard hybrid baseline (Cormack, Clarke &
    * Büttcher SIGIR 2009: RRF(d) = Σ_lists 1/(k₀ + rank), k₀ = 60)
    * every production retrieval stack ships before anything learned.
    * Both legs run known-item style over the same bounded panel
    * (q_id < 10, doc_id ≡ vec_id in TESTDATA), self included, top-20
    * per leg; rrf_e6 integerizes each reciprocal as 10⁶ DIV (60 + r)
    * — exact truncating integer arithmetic, so the fused ranking,
    * scores, AND the rank-flip column all hash-check (the s11
    * discipline).
    *
    * Scale shape: each leg is its proven bounded-panel lineage (t07's
    * term equi-join; s05's broadcast-panel corpus scan), the fusion is
    * a full-outer equi-join of two ≤ panel×20 rank frames — constant
    * size regardless of corpus scale. */
  val rrfFusion: QueryDef = {
    val k0 = 60; val listK = 20; val outK = 10
    val quantExpr = "transform(%s, x -> CAST(round(x * 127) AS BIGINT))"
    val dotExpr =
      """aggregate(zip_with(q_q, n_q, (x, y) -> x * y),
         CAST(0 AS BIGINT), (acc, v) -> acc + v)"""
    QueryDef(
      "s26_rrf_fusion",
      (s, d) => {
        val q = Dedup.normalized(s, d, "q_id", "q_u")
          .filter(col("q_id") < 10)
          .select(col("q_id"), expr(quantExpr.format("q_u")).as("q_q"))
        val c = Dedup.normalized(s, d, "n_id", "n_u")
          .select(col("n_id"), expr(quantExpr.format("n_u")).as("n_q"))
        val wd = Window.partitionBy(col("q_id"))
          .orderBy(col("q_dot").desc, col("n_id"))
        val dense = broadcast(q).crossJoin(c)
          .withColumn("q_dot", expr(dotExpr))
          .withColumn("d_rnk", row_number().over(wd).cast("long"))
          .filter(col("d_rnk") <= listK)
          .select("q_id", "n_id", "d_rnk")
        val wb = Window.partitionBy(col("q_id"))
          .orderBy(col("bm25_e6").desc, col("n_id"))
        val sparse = TextAnalysis.bm25Frame(s, d)
          .withColumn("b_rnk", row_number().over(wb).cast("long"))
          .filter(col("b_rnk") <= listK)
          .select("q_id", "n_id", "b_rnk")
        val wf = Window.partitionBy(col("q_id"))
          .orderBy(col("rrf_e6").desc, col("n_id"))
        dense.join(sparse, Seq("q_id", "n_id"), "full_outer")
          .withColumn("rrf_e6", expr(
            s"""coalesce(1000000 DIV ($k0 + d_rnk), CAST(0 AS BIGINT))
                + coalesce(1000000 DIV ($k0 + b_rnk), CAST(0 AS BIGINT))"""))
          .withColumn("fused_rnk", row_number().over(wf).cast("long"))
          .filter(col("fused_rnk") <= outK)
          .withColumn("dense_rnk", coalesce(col("d_rnk"), lit(0L)))
          .withColumn("bm25_rnk", coalesce(col("b_rnk"), lit(0L)))
          .withColumn("flipped",
            (col("dense_rnk") =!= col("fused_rnk")).cast("long"))
          .select("q_id", "n_id", "fused_rnk", "rrf_e6",
            "dense_rnk", "bm25_rnk", "flipped")
          .orderBy("q_id", "fused_rnk")
      },
      Some(s"""WITH ${Dedup.normalizedSql},
               ${TextAnalysis.bm25CtesSql},
               qv AS (
                 SELECT vec_id,
                   list_transform(u, x -> CAST(round(x * 127) AS BIGINT))
                     AS qv
                 FROM u),
               dp AS (
                 SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, len(a.qv) + 1),
                       i -> a.qv[i] * b.qv[i])),
                     (x, y) -> x + y) AS q_dot
                 FROM qv a JOIN qv b ON a.vec_id < 10),
               dense AS (
                 SELECT q_id, n_id, d_rnk FROM (
                   SELECT q_id, n_id,
                     CAST(row_number() OVER (PARTITION BY q_id
                       ORDER BY q_dot DESC, n_id) AS BIGINT) AS d_rnk
                   FROM dp)
                 WHERE d_rnk <= $listK),
               sparse AS (
                 SELECT q_id, n_id, b_rnk FROM (
                   SELECT q_id, n_id,
                     CAST(row_number() OVER (PARTITION BY q_id
                       ORDER BY bm25_e6 DESC, n_id) AS BIGINT) AS b_rnk
                   FROM bm)
                 WHERE b_rnk <= $listK),
               f AS (
                 SELECT q_id, n_id,
                   coalesce(1000000 // ($k0 + d_rnk), 0)
                     + coalesce(1000000 // ($k0 + b_rnk), 0) AS rrf_e6,
                   coalesce(d_rnk, 0) AS dense_rnk,
                   coalesce(b_rnk, 0) AS bm25_rnk
                 FROM dense FULL JOIN sparse USING (q_id, n_id)),
               g AS (
                 SELECT q_id, n_id, rrf_e6, dense_rnk, bm25_rnk,
                   CAST(row_number() OVER (PARTITION BY q_id
                     ORDER BY rrf_e6 DESC, n_id) AS BIGINT) AS fused_rnk
                 FROM f)
               SELECT q_id, n_id, fused_rnk,
                 CAST(rrf_e6 AS BIGINT) AS rrf_e6,
                 CAST(dense_rnk AS BIGINT) AS dense_rnk,
                 CAST(bm25_rnk AS BIGINT) AS bm25_rnk,
                 CAST(dense_rnk <> fused_rnk AS BIGINT) AS flipped
               FROM g WHERE fused_rnk <= $outK
               ORDER BY q_id, fused_rnk"""))
  }

  val all: Seq[QueryDef] =
    Seq(cosineTopK, annLsh, annIvfPinned, annHyperplane, annInt8,
      annPqAdc, kmeansLloyd, annRecall, filteredTopK, mmrRerank,
      twoStageRescore, knnClassify, nprobeSweep, hardNegatives, ndcgEval,
      rocchioFeedback, ivfBalance, rangeSearch,
      farthestFirst, embeddingHealth, anisotropyPanel, quantizationSweep,
      matryoshkaSweep, pqDistortion, reindexChurn, rrfFusion)
}
