package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Lexical + hybrid retrieval over the corpus (SURVEY.md §2.11): the
  * search-side counterpart of the ANN family. Inverted-index
  * statistics (df/cf/idf), BM25 ranking for a term query, and
  * reciprocal-rank fusion of the lexical and dense (cosine) rankings —
  * the standard hybrid-search composition.
  *
  * Determinism across engines:
  *  - BM25 ranks on the DECIMAL(18,6)-rounded score (near-ties become
  *    exact ties, broken by doc_id), so a 1-ulp ln() difference
  *    between libm and the JVM can never flip a rank;
  *  - the dense leg ranks on the exact-fixed-point cosine (the same
  *    proven VecFixedPoint path as every v_cos row);
  *  - RRF weights are divisions of exact integer ranks in a fixed
  *    textual order — bit-identical doubles on both engines.
  */
object RetrievalOps {
  val set = new QuerySet
  import set._

  // fixed 3-term query: one rare term (high idf) + two common ones
  private val T1 = "dup"; private val T2 = "spark"; private val T3 = "join"
  private val K1 = "1.2"; private val B = "0.75"

  /** per-doc (dl, tf_t) frame — one typed map per document: a single
    * split and one token pass counting all three terms (the
    * higher-order `filter(toks, ...)` form evaluated its lambda
    * interpreted and re-ran the split per expression after projection
    * collapse — 4 array materializations per row; measured 1.61 →
    * 0.56 s at sf1 for r_bm25_topk, 1.99 → 1.16 s for r_hybrid_rrf) */
  private def tfFrame(s: SparkSession, d: String): DataFrame = {
    // one codegen'd byte pass per document (functions.SpaceTokenStats):
    // exact split(' ') semantics with zero decode/array allocation —
    // replaces the r8 typed-map form (r13: String decode + split
    // dominated the BM25 legs; equivalence in TextScanSpec). Still not
    // repartitioned before the scan: the raw-text exchange costs more
    // than it saves here (r8 A/B, unchanged).
    val st = org.apache.spark.sql.graft.GraftSqlBridge.column(
      graft.functions.SpaceTokenStats(
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("text"),
        Seq(T1, T2, T3)))
    Tables.t(s, d, "documents")
      .select(col("doc_id"), st.as("st"))
      .select(col("doc_id"),
        element_at(col("st"), 1).cast("double").as("dl"),
        element_at(col("st"), 2).cast("double").as("tf1"),
        element_at(col("st"), 3).cast("double").as("tf2"),
        element_at(col("st"), 4).cast("double").as("tf3"))
  }

  /** one global aggregate over the tf frame: N, total tokens, per-term
    * document frequencies. Single job, no shuffle beyond the final
    * combine; every quantity is an exact integer carried in double. */
  private def statsFrame(t: DataFrame): DataFrame =
    t.agg(
      count(lit(1)).cast("double").as("nd"),
      sum(col("dl")).as("ntok"),
      sum(when(col("tf1") > 0, 1).otherwise(0)).cast("double").as("df1"),
      sum(when(col("tf2") > 0, 1).otherwise(0)).cast("double").as("df2"),
      sum(when(col("tf3") > 0, 1).otherwise(0)).cast("double").as("df3"))

  /** the BM25 sum, identical textual/evaluation order on both engines */
  private def scoreSql(tf: String => String): String = {
    def term(i: Int) =
      s"ln((nd - df$i + 0.5) / (df$i + 0.5) + 1) * " +
        s"(${tf(s"tf$i")} * ($K1 + 1) / (${tf(s"tf$i")} + $K1 * (1 - $B + $B * dl / (ntok / nd))))"
    s"${term(1)} + ${term(2)} + ${term(3)}"
  }

  /** per-doc rounded BM25 score frame: tf pass × broadcast stats */
  private def bm25Scores(s: SparkSession, d: String): DataFrame = {
    val t = tfFrame(s, d)
    t.crossJoin(broadcast(statsFrame(t)))
      .withColumn("s6", expr(s"CAST(${scoreSql(identity)} AS DECIMAL(18,6))"))
  }

  // Inverted-index statistics: token → document frequency, corpus
  // frequency, idf. Pass 1 is a typed per-doc local count (one row per
  // DISTINCT token per doc — vocab-bounded per doc), so the shuffle
  // moves (token, tf) pairs, never token instances; the aggregate is
  // vocab-sized. The build that feeds BM25 df/idf at scale.
  spark("r_inverted_df",
    (s, d) => {
      import s.implicits._
      val pt = Tables.t(s, d, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (_, text) =>
          val counts = new java.util.HashMap[String, Long]()
          text.split(" ", -1).foreach(t => counts.merge(t, 1L, (a, b) => a + b))
          scala.jdk.CollectionConverters.IteratorHasAsScala(counts.entrySet().iterator())
            .asScala.map(e => (e.getKey, e.getValue))
        }
        .toDF("tok", "tf")
      val ag = pt.groupBy("tok")
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
      val nd = Tables.t(s, d, "documents")
        .agg(count(lit(1)).cast("double").as("nd"))
      // vocab-bounded result: TinyResult skips the range-sampling job
      // over the final aggregate (JobCountProbe: 6 → 5 jobs at sf1;
      // time flat — the sampled child was the already-shuffled tiny
      // frame — kept for the plan hygiene, not a measured win)
      graft.operators.TinyResult.globalSort(
        ag.crossJoin(broadcast(nd))
          .withColumn("idf",
            expr("CAST(CAST(ln((nd - df + 0.5) / (df + 0.5) + 1) AS DECIMAL(18,6)) AS DOUBLE)"))
          .select(col("tok"), col("df"), col("cf"), col("idf")),
        desc("df"), asc("tok"))
    },
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |pt AS (SELECT tok, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
      |ag AS (SELECT tok, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf
      |       FROM pt GROUP BY tok),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents)
      |SELECT tok, df, cf,
      |       CAST(CAST(ln((nd - df + 0.5) / (df + 0.5) + 1) AS DECIMAL(18,6)) AS DOUBLE) AS idf
      |FROM ag, n ORDER BY df DESC, tok""".stripMargin)

  // BM25 top-20 for the fixed 3-term query. Scale shape: two corpus
  // scans (stats aggregate, then map-side scoring against the
  // broadcast 1-row stats frame) and a TakeOrdered top-k — no shuffle
  // of document rows anywhere; the rank window runs over the already-
  // limited 20-row frame. ntok as an exact integer in double is safe
  // to 2^53 tokens (~9e15 — beyond 100 TB of text).
  spark("r_bm25_topk",
    (s, d) => {
      val top = bm25Scores(s, d)
        .orderBy(desc("s6"), asc("doc_id")).limit(20)
      top
        .withColumn("rk",
          row_number().over(Window.orderBy(desc("s6"), asc("doc_id"))).cast("long"))
        .select(col("rk"), col("doc_id"),
          col("s6").cast("double").as("score"), col("dl").cast("long").as("dl"))
        .orderBy("rk")
    },
    s"""WITH t AS (SELECT doc_id,
       |             CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
       |             CAST(len(list_filter(string_split(text, ' '), x -> x = '$T1')) AS DOUBLE) AS tf1,
       |             CAST(len(list_filter(string_split(text, ' '), x -> x = '$T2')) AS DOUBLE) AS tf2,
       |             CAST(len(list_filter(string_split(text, ' '), x -> x = '$T3')) AS DOUBLE) AS tf3
       |           FROM documents),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS nd, CAST(sum(dl) AS DOUBLE) AS ntok,
       |              CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
       |              CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2,
       |              CAST(sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df3
       |       FROM t),
       |sc AS (SELECT doc_id, CAST(dl AS BIGINT) AS dl_i,
       |              CAST(${scoreSql(identity)} AS DECIMAL(18,6)) AS s6
       |       FROM t CROSS JOIN st)
       |SELECT CAST(row_number() OVER (ORDER BY s6 DESC, doc_id) AS BIGINT) AS rk,
       |       doc_id, CAST(s6 AS DOUBLE) AS score, dl_i AS dl
       |FROM sc ORDER BY s6 DESC, doc_id LIMIT 20""".stripMargin)

  // Hybrid retrieval: reciprocal-rank fusion (k = 60) of the BM25
  // lexical top-50 and the dense cosine top-50 for the aligned query
  // (the 3-term query + vector 7's embedding; ids are the shared
  // doc/vec key — docs without an embedding can only earn the lexical
  // leg, which the full-outer fusion handles). Both legs are
  // TakeOrdered top-k; the fusion join touches ≤100 rows.
  spark("r_hybrid_rrf",
    (s, d) => {
      import s.implicits._
      import graft.functions.VecFixedPoint
      val lex = bm25Scores(s, d)
        .orderBy(desc("s6"), asc("doc_id")).limit(50)
        .withColumn("r_lex",
          row_number().over(Window.orderBy(desc("s6"), asc("doc_id"))).cast("long"))
        .select(col("doc_id").as("id"), col("r_lex"))
      val vecs = Tables.t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      // pushed point lookup (the serving-path shape: row-group/file
      // pruning applies) — the prior typed-lambda filter full-scanned
      // and deserialized the whole table to fetch one row
      val qv = Tables.t(s, d, "embeddings").where(col("vec_id") === 7L)
        .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])].head()
      val q = VecFixedPoint.quantize(qv._2)
      val qsaa = VecFixedPoint.dot(q, q)
      val bq = s.sparkContext.broadcast((q, qsaa))
      val cosd = vecs.map { case (id, e) =>
        val c = VecFixedPoint.quantize(e)
        (id, VecFixedPoint.cos(VecFixedPoint.dot(bq.value._1, c), bq.value._2,
          VecFixedPoint.dot(c, c)))
      }.toDF("id", "cosd")
      val den = cosd
        .orderBy(desc("cosd"), asc("id")).limit(50)
        .withColumn("r_dense",
          row_number().over(Window.orderBy(desc("cosd"), asc("id"))).cast("long"))
        .select(col("id"), col("r_dense"))
      val fused = lex.join(den, Seq("id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("r_dense")), lit(0.0)))
      val top = fused.orderBy(desc("rrf"), asc("id")).limit(10)
      top
        .withColumn("rk",
          row_number().over(Window.orderBy(desc("rrf"), asc("id"))).cast("long"))
        .select(col("rk"), col("id"), col("r_lex"), col("r_dense"),
          col("rrf").cast("decimal(18,6)").cast("double").as("rrf"))
        .orderBy("rk")
    },
    s"""WITH t AS (SELECT doc_id,
       |             CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
       |             CAST(len(list_filter(string_split(text, ' '), x -> x = '$T1')) AS DOUBLE) AS tf1,
       |             CAST(len(list_filter(string_split(text, ' '), x -> x = '$T2')) AS DOUBLE) AS tf2,
       |             CAST(len(list_filter(string_split(text, ' '), x -> x = '$T3')) AS DOUBLE) AS tf3
       |           FROM documents),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS nd, CAST(sum(dl) AS DOUBLE) AS ntok,
       |              CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
       |              CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2,
       |              CAST(sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df3
       |       FROM t),
       |sc AS (SELECT doc_id, CAST(${scoreSql(identity)} AS DECIMAL(18,6)) AS s6
       |       FROM t CROSS JOIN st),
       |lex AS (SELECT id, r_lex FROM (
       |          SELECT doc_id AS id,
       |                 CAST(row_number() OVER (ORDER BY s6 DESC, doc_id) AS BIGINT) AS r_lex
       |          FROM sc) WHERE r_lex <= 50),
       |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |el AS (SELECT vec_id, i, CAST(e[CAST(i AS INTEGER) + 1] AS DECIMAL(18,8)) AS x
       |       FROM v, range(0, 64) r(i)),
       |nrm AS (SELECT vec_id, CAST(sum(x * x) AS DECIMAL(38,16)) AS saa FROM el GROUP BY vec_id),
       |qe AS (SELECT i, x FROM el WHERE vec_id = 7),
       |dots AS (SELECT ec.vec_id, CAST(sum(ec.x * qe.x) AS DECIMAL(38,16)) AS dot
       |         FROM el ec JOIN qe ON ec.i = qe.i GROUP BY ec.vec_id),
       |cosd AS (SELECT dt.vec_id AS id,
       |                CAST(dot AS DOUBLE) / (sqrt(CAST(nc.saa AS DOUBLE)) *
       |                  sqrt(CAST((SELECT saa FROM nrm WHERE vec_id = 7) AS DOUBLE))) AS cosd
       |         FROM dots dt JOIN nrm nc ON dt.vec_id = nc.vec_id),
       |den AS (SELECT id, r_dense FROM (
       |          SELECT id, CAST(row_number() OVER (ORDER BY cosd DESC, id) AS BIGINT) AS r_dense
       |          FROM cosd) WHERE r_dense <= 50),
       |fuse AS (SELECT coalesce(l.id, dn.id) AS id, l.r_lex, dn.r_dense,
       |                coalesce(1.0 / (60 + l.r_lex), 0) + coalesce(1.0 / (60 + dn.r_dense), 0) AS rrf
       |         FROM lex l FULL OUTER JOIN den dn ON l.id = dn.id)
       |SELECT CAST(row_number() OVER (ORDER BY rrf DESC, id) AS BIGINT) AS rk,
       |       id, r_lex, r_dense,
       |       CAST(CAST(rrf AS DECIMAL(18,6)) AS DOUBLE) AS rrf
       |FROM fuse ORDER BY rrf DESC, id LIMIT 10""".stripMargin)
}
