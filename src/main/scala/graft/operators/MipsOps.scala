package graft.operators

import graft.GraftOp
import graft.functions.Exprs
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Maximum-inner-product search (MIPS) — the retrieval mode
  * recommendation serving actually runs (score = ⟨user, item⟩ over
  * UN-normalized embeddings: popular items legitimately have larger
  * norms, which cosine ANN throws away). Two tiers:
  *
  *   - [[mipsBrute]]: exact top-k by raw inner product — the
  *     broadcast-query corpus scan of knn_brute without the
  *     normalization (the corpus is only scanned, never shuffled).
  *   - [[mips]]: the norm-augmented reduction (Neyshabur & Srebro
  *     2015, public): append sqrt(M² − ‖x‖²) to every corpus vector
  *     (M = max corpus norm) and 0 to every query; then
  *     cos(q̃, x̃) = ⟨q,x⟩ / (‖q‖·M) is MONOTONE in the inner product
  *     per query, so ANY cosine ANN over the augmented vectors serves
  *     MIPS. Here the augmented 65-dim vectors go through the same
  *     md5-seeded random-hyperplane kernel as knn_lsh (its own plane
  *     namespace), candidates meet in a (table, bucket) equi-join, and
  *     the exact inner product reranks — bucket-occupancy cost, never
  *     n².
  *
  * Determinism: the augmented coordinate is sqrt(M² − ‖x‖²) where both
  * terms are the SAME left-fold dot both engines compute (VecDot =
  * sqlDot fold order) and M² is an order-free max, so signatures,
  * candidates and the final inner products are all bit-identical —
  * the whole MIPS path is oracle-hash-checked. Emits are raw
  * deterministic doubles (no round()).
  */
object MipsOps {

  private val K = 10

  /** MIPS plane namespace (disjoint from knn_lsh's 2000 and
    * emb_project's 0..15): plane p = t·B + b seeds as 3000 + p. */
  private val SeedBase = 3000
  import KnnOps.{B, L} // the table geometry KnnOps.bucketize hashes with
  private val DIM = 64

  /** Exact MIPS baseline: top-k by raw inner product. */
  val mipsBrute: GraftOp = GraftOp(
    "knn_mips_brute",
    s"""WITH raw AS (SELECT vec_id, ${Exprs.sqlVecAsDouble("embedding")} AS e FROM embeddings),
       |q AS (SELECT vec_id, e FROM raw WHERE vec_id < 5),
       |s AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
       |    ${Exprs.sqlDot("q.e", "c.e")} AS ip
       |  FROM q JOIN raw c ON c.vec_id <> q.vec_id),
       |r AS (
       |  SELECT query_id, corpus_id, ip,
       |    row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, corpus_id) AS rn
       |  FROM s)
       |SELECT query_id, corpus_id, ip, CAST(rn AS INT) AS rn
       |FROM r WHERE rn <= $K ORDER BY query_id, rn""".stripMargin) { (s, d) =>
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), Exprs.vecAsDouble(col("embedding")).as("e"))
    val q = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    val byQuery = Window.partitionBy(col("query_id")).orderBy(col("ip").desc, col("corpus_id"))
    v.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("corpus_id"),
        Exprs.dot(col("qe"), col("e")).as("ip"))
      .withColumn("rn", row_number().over(byQuery))
      .filter(col("rn") <= K)
      .select(col("query_id"), col("corpus_id"), col("ip"), col("rn").cast("int").as("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Norm-augmented MIPS ANN: bucket the 65-dim augmented vectors,
    * meet candidates in the band equi-join, rerank by exact ⟨q,x⟩. */
  val mips: GraftOp = GraftOp(
    "knn_mips", {
      val E = Exprs
      s"""WITH raw AS (
         |  SELECT vec_id, ${E.sqlVecAsDouble("embedding")} AS e FROM embeddings),
         |n2 AS (SELECT vec_id, e, ${E.sqlNormSq("e")} AS nsq FROM raw),
         |m AS (SELECT max(nsq) AS m2 FROM n2),
         |aug AS (
         |  SELECT vec_id, e, e || [sqrt(m.m2 - nsq)] AS ea FROM n2, m),
         |qaug AS (
         |  SELECT vec_id, e, e || [CAST(0.0 AS DOUBLE)] AS ea FROM n2 WHERE vec_id < 5),
         |pl AS (
         |  SELECT t, b,
         |    list_transform(range(${DIM + 1}), i -> CASE WHEN ${E.sqlMd5Long(s"concat(CAST($SeedBase + t * $B + b AS VARCHAR), '#', CAST(i AS VARCHAR))")} % 2 = 0
         |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END) AS w
         |  FROM (SELECT unnest(range($L)) AS t) CROSS JOIN (SELECT unnest(range($B)) AS b)),
         |sig AS (
         |  SELECT a.vec_id, p.t,
         |    CAST(sum(CASE WHEN ${E.sqlDot("a.ea", "p.w")} > 0
         |      THEN CAST(1 << p.b AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM aug a CROSS JOIN pl p GROUP BY 1, 2),
         |qsig AS (
         |  SELECT a.vec_id AS query_id, p.t,
         |    CAST(sum(CASE WHEN ${E.sqlDot("a.ea", "p.w")} > 0
         |      THEN CAST(1 << p.b AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM qaug a CROSS JOIN pl p GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT q.query_id, s.vec_id AS corpus_id
         |  FROM sig s JOIN qsig q ON s.t = q.t AND s.bucket = q.bucket
         |    AND s.vec_id <> q.query_id),
         |cs AS (
         |  SELECT c.query_id, c.corpus_id, ${E.sqlDot("a.e", "b.e")} AS ip
         |  FROM cand c
         |  JOIN raw a ON a.vec_id = c.query_id
         |  JOIN raw b ON b.vec_id = c.corpus_id),
         |rk AS (
         |  SELECT query_id, corpus_id, ip,
         |    row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, corpus_id) AS rn
         |  FROM cs)
         |SELECT query_id, corpus_id, ip, CAST(rn AS INT) AS rn
         |FROM rk WHERE rn <= $K ORDER BY query_id, rn""".stripMargin
    }) { (s, d) =>
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), Exprs.vecAsDouble(col("embedding")).as("e"))
    val n2 = v.withColumn("nsq", Exprs.dot(col("e"), col("e")))
    val m = broadcast(n2.agg(max(col("nsq")).as("m2")))
    val aug = n2.crossJoin(m)
      .select(col("vec_id"),
        concat(col("e"), array(sqrt(col("m2") - col("nsq")))).as("ea"))
    val qaug = n2.filter(col("vec_id") < 5)
      .select(col("vec_id"),
        concat(col("e"), array(lit(0.0))).as("ea"))
    val corpusB = KnnOps.bucketize(aug, "ea", SeedBase)
    val queryB = KnnOps.bucketize(qaug, "ea", SeedBase)
      .select(col("vec_id").as("query_id"), col("tbl"), col("bucket"))
    val cand = corpusB.join(broadcast(queryB), Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("corpus_id"))
      .distinct()
    val withVecs = v.select(col("vec_id").as("corpus_id"), col("e").as("ce"))
      .join(broadcast(cand), "corpus_id")
      .join(broadcast(v.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("e").as("qe"))), "query_id")
    val byQuery = Window.partitionBy(col("query_id")).orderBy(col("ip").desc, col("corpus_id"))
    withVecs
      .select(col("query_id"), col("corpus_id"), Exprs.dot(col("qe"), col("ce")).as("ip"))
      .withColumn("rn", row_number().over(byQuery))
      .filter(col("rn") <= K)
      .select(col("query_id"), col("corpus_id"), col("ip"), col("rn").cast("int").as("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  val ops: Seq[GraftOp] = Seq(mipsBrute, mips)
}
