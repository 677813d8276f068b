package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Drives the user-facing Engine facade end-to-end on real testdata. */
class EngineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()
  lazy val e = Engine(spark)
  val sf = "/root/testdata/sf0.001"

  test("vortex write/read round trip through the facade, partitioned") {
    val dir = java.nio.file.Files.createTempDirectory("engine_vtx_").toString
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    e.writeVortex(li, dir, partitionBy = Seq("l_returnflag"))
    val back = e.readVortex(dir)
    assert(back.count() == li.count())
    assert(back.filter("l_returnflag = 'A'").count() == li.filter("l_returnflag = 'A'").count())
  }

  test("dedup + signatures + quality + fingerprint over documents") {
    val docs = Tables.t(spark, sf, "documents")
    assert(e.dedupExact(docs, "text").count() <= docs.count())
    val cands = e.nearDupCandidates(docs, "doc_id", "text")
    assert(cands.columns.toSeq == Seq("id_a", "id_b"))
    val sigs = e.minHashSignatures(docs, "doc_id", "text")
    assert(sigs.count() == docs.count())
    assert(sigs.head().getString(1).split("\\|").length == 16)
    assert(e.textQuality(docs, "doc_id", "text").count() == docs.count())
    val sim = e.simHashSignatures(docs, "doc_id", "text")
    assert(sim.count() == docs.count() && sim.head().getString(1).length == 64)
    // verified near-dups are a subset of exact Jaccard pairs at the same τ
    val exact = e.jaccardNearDup(docs, "doc_id", "text", 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = e.minhashNearDup(docs, "doc_id", "text", 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
    // clustering: every cluster label is a member doc; canonical keep
    // set = one row per cluster; paired docs never both survive
    val clusters = e.dedupClusters(docs, "doc_id", "text", 0.5)
    assert(clusters.count() == docs.count())
    val kept = e.dedupNear(docs, "doc_id", "text", 0.5)
    assert(kept.count() == clusters.select("cluster").distinct().count())
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(lsh.forall { case (a, b) => !(keptIds(a) && keptIds(b)) })
    assert(e.fingerprint(docs, "doc_id", "text").select("fp").distinct().count() ==
      docs.selectExpr("lower(regexp_replace(text, '\\\\s+', ' '))").distinct().count())
  }

  test("compaction merges streaming small files, preserving data") {
    val dir = java.nio.file.Files.createTempDirectory("engine_compact_").toString
    (0 until 5).foreach { i =>
      spark.range(i * 100, (i + 1) * 100).toDF("id")
        .repartition(2).write.format("vortex").mode("append").save(dir)
    }
    val before = new java.io.File(dir).listFiles.count(_.getName.endsWith(".vortex"))
    assert(before >= 5)
    val sumBefore = e.readVortex(dir).agg(sum("id")).head().getLong(0)
    e.compactVortex(dir)
    val after = new java.io.File(dir).listFiles.count(_.getName.endsWith(".vortex"))
    assert(after == 1, s"expected 1 file after compaction, got $after")
    assert(e.readVortex(dir).agg(sum("id")).head().getLong(0) == sumBefore)
    assert(e.readVortex(dir).count() == 500)
  }

  test("cosine IVF top-k (learned k-means) through the facade") {
    val emb = Tables.t(spark, sf, "embeddings")
    val out = e.cosineTopKIvf(emb, "vec_id", "embedding", queryIds = Set(1L, 2L, 3L), k = 3)
    assert(out.select("id_q").distinct().count() == 3)
    assert(out.count() <= 9)
    // IVF results are a subset of brute-force candidates for each query
    val bf = e.cosineTopK(emb, "vec_id", "embedding", Set(1L, 2L, 3L), k = 1000)
      .select("id_q", "id_n").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = out.select("id_q", "id_n").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.subsetOf(bf))
  }

  test("cosine top-k through the facade") {
    val emb = Tables.t(spark, sf, "embeddings")
    val topk = e.cosineTopK(emb, "vec_id", "embedding", Set(0L, 1L), 3)
    assert(topk.count() == 6)
    assert(topk.groupBy("id_q").count().collect().forall(_.getLong(1) == 3))
  }

  test("stored dedup index: build, append, probe through the facade") {
    val dir = java.nio.file.Files.createTempDirectory("engine_didx_").toString
    val docs = Tables.t(spark, sf, "documents")
    val corpusA = docs.filter(col("doc_id") % 7 =!= 0 && col("doc_id") < 250)
    val corpusB = docs.filter(col("doc_id") % 7 =!= 0 && col("doc_id") >= 250)
    val batch = docs.filter(col("doc_id") % 7 === 0)
    e.buildDedupIndex(corpusA, "doc_id", "text", dir)
    e.appendDedupIndex(corpusB, "doc_id", "text", dir)
    val probed = e.dedupAgainstIndex(batch, "doc_id", "text", dir, tau = 0.5)
    val direct = e.dedupAgainstCorpus(
      docs.filter(col("doc_id") % 7 =!= 0), batch, "doc_id", "text", tau = 0.5)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("bid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet(probed) == pairSet(direct))
    probed.unpersist(false); direct.unpersist(false)
  }

  test("stored ANN index: build, append, partitioned layout through the facade") {
    val dir = java.nio.file.Files.createTempDirectory("engine_aidx_").toString
    val emb = Tables.t(spark, sf, "embeddings")
    val n = emb.count()
    e.buildAnnIndex(emb.filter(col("vec_id") < n / 2), "vec_id", "embedding", dir,
      clusters = 4)
    e.appendAnnIndex(emb.filter(col("vec_id") >= n / 2), "vec_id", "embedding", dir)
    val idx = e.readVortex(dir)
    assert(idx.count() == n)
    assert(idx.select("k").distinct().count() > 1)
  }

  test("tokenBudget: both dispatch branches row-equal; cheap branch at bench scale") {
    val toks = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    // bench-scale input takes the window branch (the stats gate sees a
    // small scan — this is what keeps the sf1 rows on their times)
    assert(e.statsSmall(toks, 8000000L, 512L << 20))
    val win = e.tokenBudget(toks, "source", "doc_id", "n_tok", budget = 600)
    // forcing thresholds to 0 takes the PrefixSum branch on the SAME input
    val pre = e.tokenBudget(toks, "source", "doc_id", "n_tok", budget = 600,
      maxWindowRows = 0, maxWindowBytes = 0)
    val a = win.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = pre.orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == b)
  }

  test("vocabCoverage: both dispatch branches row-equal; cheap branch at bench scale") {
    import spark.implicits._
    val counts = Tables.t(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val win = e.vocabCoverage(counts, "tok", "c")
    val pre = e.vocabCoverage(counts, "tok", "c", maxWindowRows = 0, maxWindowBytes = 0)
    val a = win.orderBy("rk").collect().map(_.toSeq).toSeq
    val b = pre.orderBy("rk").collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == b)
    // the share curve ends at exactly 1.0
    assert(math.abs(a.last.last.asInstanceOf[Double] - 1.0) < 1e-12)
  }
}
