package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** North-star deduplication suite over `documents` (SURVEY.md §2.11):
  * exact (hash groupBy), n-gram/token Jaccard, MinHash+LSH banding,
  * SimHash.
  *
  * Scale discipline: every kernel here is shuffle-formulated — no
  * driver-side `collect()` of O(corpus) state anywhere on these paths.
  * Jaccard joins use distributed prefix filtering (Vernica et al.,
  * SIGMOD'10 set-similarity join); MinHash banding groups on
  * (band, band-signature) and dedups pairs by first-shared-band inside
  * the bucket, so no post-hoc `distinct()` shuffle of the pair set is
  * needed. A driver-kernel fast path for tiny corpora lives behind an
  * explicit size check in [[jaccardDocPairsAuto]] only.
  */
object DedupOps {
  val set = new QuerySet
  import set._

  /** Distinct (doc_id, token) pairs — whitespace tokens. */
  private def tokens(s: SparkSession, d: String): DataFrame =
    Tables.t(s, d, "documents")
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))

  private val tokSql =
    "SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents"

  // ---- distinct token sets (shuffle) -----------------------------------

  /** Docs collapse to their DISTINCT token set (corpora are heavily
    * redundant): (toks sorted, members sorted, sid = min member). Two
    * hash aggregations — partial+final, any corpus size. */
  def distinctSetsDF(tok: DataFrame): DataFrame =
    tok.groupBy("doc_id").agg(sort_array(collect_set(col("w"))).as("toks"))
      .groupBy("toks").agg(sort_array(collect_list(col("doc_id"))).as("members"))
      .withColumn("sid", element_at(col("members"), 1))

  /** distinctSetsDF specialised to whitespace tokens straight off
    * `documents`: a doc's token set is ONE per-row expression (the
    * tokens are already co-located in its text cell), so the doc→set
    * collapse needs a single exchange (by toks) instead of
    * distinctSetsDF(tokens(...))'s two (explode, re-group by doc_id,
    * then group by toks). Same rows: collect_set over the exploded
    * array_distinct(split(text)) IS array_distinct(split(text)) as a
    * set, and both paths sort_array it. */
  /** test access (DedupVerifySpec) */
  private[graft] def docSetsForTest(s: SparkSession, d: String,
                                    pred: org.apache.spark.sql.Column): DataFrame =
    docSetsDF(s, d, pred)

  private def docSetsDF(s: SparkSession, d: String,
                        pred: org.apache.spark.sql.Column): DataFrame =
    Tables.t(s, d, "documents").filter(pred)
      .select(col("doc_id"), sort_array(array_distinct(split(col("text"), " "))).as("toks"))
      .groupBy("toks").agg(sort_array(collect_list(col("doc_id"))).as("members"))
      .withColumn("sid", element_at(col("members"), 1))

  // ---- exact Jaccard join (distributed prefix filter) ------------------

  /** Exact Jaccard-≥-τ doc pairs, fully distributed. Two physical
    * strategies, chosen by a cost probe (two scalar aggregates):
    *
    *  - PREFIX-FILTER JOIN (Vernica et al., SIGMOD'10): tokens ordered
    *    by ascending document frequency; each distinct set indexes only
    *    its `n - ceil(τ·n) + 1` rarest tokens (two sets with Jaccard ≥ τ
    *    MUST share one); a salted self-join on prefix tokens + length +
    *    PPJoin position filters yields candidates; `array_intersect`
    *    verifies. Candidate volume is output-bound on natural (zipfian)
    *    corpora — the 100 TB default.
    *
    *  - BLOCK JOIN: when the probe predicts prefix candidates ≳ all set
    *    pairs (tiny/template vocabularies where no filter can prune
    *    below the output size), replicate each distinct set to B block
    *    buckets and intersect within buckets — Θ(sets²) work spread
    *    evenly, O(sets·B) shuffle, no driver state.
    *
    * Either way docs first collapse to DISTINCT token sets and
    * qualifying set pairs expand back to doc pairs at the end
    * (intra-set pairs are Jaccard 1 by identity); Catalyst reuses the
    * distinct-set exchange across its consumers. */
  def jaccardDocPairs(s: SparkSession, tok: DataFrame, tau: Double): DataFrame = {
    val sets = distinctSetsDF(tok)
    val ver = jaccardSetPairs(s, sets, tau)
    val mem = sets.select(col("sid"), col("members"))
    val cross = ver
      .join(mem.select(col("sid").as("sa"), col("members").as("ma")), "sa")
      .join(mem.select(col("sid").as("sb"), col("members").as("mb")), "sb")
      .select(explode(col("ma")).as("x"), col("mb"), col("jac"))
      .select(col("x"), explode(col("mb")).as("y"), col("jac"))
      .select(least(col("x"), col("y")).as("id_a"),
              greatest(col("x"), col("y")).as("id_b"), col("jac"))
    val intra = sets.select(explode(expr(
        "flatten(transform(members, (x, i) -> " +
        "transform(slice(members, i + 2, size(members)), y -> struct(x AS id_a, y AS id_b))))")).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"), lit(1.0).as("jac"))
    cross.union(intra)
  }

  /** Qualifying (sa, sb, jac) DISTINCT-SET pairs for `sets` =
    * distinctSetsDF output — the join half of [[jaccardDocPairs]]. */
  private def jaccardSetPairs(s: SparkSession, sets: DataFrame, tau: Double): DataFrame = {
    val st = sets.select(col("sid"), explode(col("toks")).as("w"))
    val dfreq = st.groupBy("w").agg(count(lit(1)).as("df"))
    // per-set token array sorted rare-first (ties by token): the prefix
    // is then the most selective possible set of join keys
    val arr = st.join(dfreq, "w")
      .groupBy("sid").agg(sort_array(collect_list(struct(col("df"), col("w")))).as("dw"))
      .select(col("sid"), expr("transform(dw, x -> x.w)").as("ids"), size(col("dw")).as("n"))
    val pre = arr.select(col("sid"), col("n"),
      posexplode(expr(s"slice(ids, 1, CAST(size(ids) - CEIL($tau * size(ids)) + 1 AS INT))")))
      .withColumnRenamed("col", "w")
    // cost probe: candidate volume of the prefix join (Σ prefix-df²/2)
    // vs. all set pairs. Two scalar aggregates — cheap at any scale.
    val probe = pre.groupBy("w").agg(count(lit(1)).as("pdf"))
      .agg(sum(col("pdf") * col("pdf")).as("vol")).first()
    val prefixVolume = if (probe.isNullAt(0)) 0L else probe.getLong(0) / 2
    val nSets = sets.count()
    if (prefixVolume > nSets * nSets / 2) blockJoinSetPairs(s, sets, tau)
    else {
        // token frequencies can be Zipf-heavy, making the raw token key
        // badly skewed: salt the probe side by sid and replicate the
        // build side over all salts so every core gets work. The PPJoin
        // position filter prunes pairs whose best-case remaining overlap
        // min(n_a-pos_a, n_b-pos_b)+1 can't reach α = ceil(τ/(1+τ)(n_a+n_b)).
      val R = 32
      val preA = pre.withColumn("salt", pmod(col("sid"), lit(R)).cast("int"))
      val preB = pre.withColumn("salt", explode(expr(s"sequence(0, ${R - 1})")))
      val alpha = ceil(lit(tau / (1 + tau)) * (col("a.n") + col("b.n")))
      val cand = preA.as("a").join(preB.as("b"),
          col("a.w") === col("b.w") && col("a.salt") === col("b.salt") &&
          col("a.sid") < col("b.sid") &&
          col("a.n") >= lit(tau) * col("b.n") && col("b.n") >= lit(tau) * col("a.n") &&
          least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos")) + lit(1) >= alpha)
        .select(col("a.sid").as("sa"), col("b.sid").as("sb")).distinct()
      val va = arr.select(col("sid").as("sa"), col("ids").as("ids_a"), col("n").as("na"))
      val vb = arr.select(col("sid").as("sb"), col("ids").as("ids_b"), col("n").as("nb"))
      cand.join(va, "sa").join(vb, "sb")
        .withColumn("inter", size(array_intersect(col("ids_a"), col("ids_b"))))
        .withColumn("jac", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
        .filter(col("jac") >= tau)
        .select(col("sa"), col("sb"), col("jac"))
    }
  }

  /** Θ(sets²) exact set-pair join for corpora where no similarity filter
    * can prune (the cost probe found prefix candidates ≳ all pairs, i.e.
    * the output itself is near-quadratic): every distinct set replicates
    * to B block buckets; each unordered block pair (bi ≤ bj) is one
    * task-sized group that hash-intersects its two sides. Shuffle is
    * O(sets·B), work spreads evenly over B(B+1)/2 groups, zero driver
    * state. Returns qualifying (sa, sb, jac) set pairs. */
  private def blockJoinSetPairs(s: SparkSession, sets: DataFrame, tau: Double): DataFrame = {
    import s.implicits._
    val B = 32
    // The Θ(pairs) inner loop must not hash strings: map tokens to dense
    // ranks first (distributed — sort + zipWithIndex, no driver vocab),
    // so each set is a sorted long array and intersection is a branchy
    // merge; when the whole vocabulary fits in 64 ids (the template
    // corpora this branch exists for) a pair costs ONE and+popcount on
    // packed masks. ~30x less CPU per pair than HashSet[String] probes.
    val vocab = sets.select(explode(col("toks")).as("w")).distinct()
      .orderBy("w").rdd.map(_.getString(0)).zipWithIndex()
      .toDF("w", "wid")
    val rows = sets.select(col("sid"), explode(col("toks")).as("w"))
      .join(vocab, "w")
      .groupBy("sid").agg(sort_array(collect_list(col("wid"))).as("wids"))
      .select(pmod(col("sid"), lit(B)).cast("int").as("blk"), col("sid"), col("wids"))
      .as[(Int, Long, Seq[Long])]
    val repl = rows.flatMap { case (blk, sid, wids) =>
      Iterator.tabulate(B)(c => (math.min(blk, c), math.max(blk, c), blk, sid, wids))
    }
    repl.groupByKey(t => (t._1, t._2))
      .flatMapGroups { (key: (Int, Int), it: Iterator[(Int, Int, Int, Long, Seq[Long])]) =>
        val (bi, bj) = key
        // (blk, sid, sorted ids, mask — 0 when ids don't fit in 64 bits)
        val items = it.map { t =>
          val arr = t._5.toArray
          val mask = if (arr.nonEmpty && arr(arr.length - 1) < 64)
            arr.foldLeft(0L)((m, i) => m | (1L << i)) else 0L
          (t._3, t._4, arr, mask)
        }.toArray
        def inter(a: (Int, Long, Array[Long], Long),
                  b: (Int, Long, Array[Long], Long)): Int =
          if (a._4 != 0L && b._4 != 0L) java.lang.Long.bitCount(a._4 & b._4)
          else {
            val (x, y) = (a._3, b._3)
            var i = 0; var j = 0; var c = 0
            while (i < x.length && j < y.length) {
              val d = x(i) - y(j)
              if (d == 0) { c += 1; i += 1; j += 1 } else if (d < 0) i += 1 else j += 1
            }
            c
          }
        def pair(a: (Int, Long, Array[Long], Long),
                 b: (Int, Long, Array[Long], Long))
            : Option[(Long, Long, Double)] = {
          val (na, nb) = (a._3.length, b._3.length)
          // length filter: jac >= tau needs min(n) >= tau * max(n)
          if (math.min(na, nb) < tau * math.max(na, nb)) return None
          val in = inter(a, b)
          val jac = in.toDouble / (na + nb - in)
          if (jac >= tau) Some((math.min(a._2, b._2), math.max(a._2, b._2), jac)) else None
        }
        if (bi == bj)
          for {
            i <- items.indices.iterator
            j <- (i + 1 until items.length).iterator
            p <- pair(items(i), items(j)).iterator
          } yield p
        else {
          val left = items.filter(_._1 == bi)
          val right = items.filter(_._1 == bj)
          for {
            a <- left.iterator
            b <- right.iterator
            p <- pair(a, b).iterator
          } yield p
        }
      }
      .toDF("sa", "sb", "jac")
  }

  /** Small-corpus driver kernel (bitmask/merge intersection over
    * broadcast distinct sets): lower latency than the shuffle join when
    * the distinct-set count is tiny, but O(sets²) work and O(sets)
    * driver memory — NEVER the default. */
  def jaccardDocPairsKernel(s: SparkSession, tok: DataFrame, tau: Double): DataFrame =
    jaccardDocPairsKernelSets(s, distinctSetsOf(s, tok), tau)

  /** kernel core over pre-collected distinct sets — lets the auto
    * dispatch reuse its bounded probe collect as the kernel input
    * instead of running the set-building aggregation twice */
  def jaccardDocPairsKernelSets(s: SparkSession, compact: Array[TokSet], tau: Double): DataFrame = {
    import s.implicits._
    val useMask = compact.nonEmpty && compact.forall(_.mask != 0L) &&
      compact.flatMap(_.ids).distinct.length <= 64
    val bc = s.sparkContext.broadcast(compact)
    def inter(a: TokSet, b: TokSet): Int =
      if (useMask) java.lang.Long.bitCount(a.mask & b.mask)
      else {
        var i = 0; var j = 0; var c = 0
        while (i < a.ids.length && j < b.ids.length) {
          val d0 = a.ids(i) - b.ids(j)
          if (d0 == 0) { c += 1; i += 1; j += 1 } else if (d0 < 0) i += 1 else j += 1
        }
        c
      }
    s.sparkContext.parallelize(compact.indices, s.sparkContext.defaultParallelism)
      .flatMap { ai =>
        val all = bc.value
        val a = all(ai)
        val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
        var x = 0
        while (x < a.members.length) {
          var y = x + 1
          while (y < a.members.length) { out += ((a.members(x), a.members(y), 1.0)); y += 1 }
          x += 1
        }
        var bi = ai + 1
        while (bi < all.length) {
          val b = all(bi)
          val in = inter(a, b)
          val jac = in.toDouble / (a.ids.length + b.ids.length - in)
          if (jac >= tau) a.members.foreach { ma =>
            b.members.foreach { mb =>
              out += ((math.min(ma, mb), math.max(ma, mb), jac))
            }
          }
          bi += 1
        }
        out
      }.toDF("id_a", "id_b", "jac")
  }

  /** Dispatch: the shuffle join unless the corpus provably fits the
    * driver kernel (`maxKernelSets` distinct sets). ONE bounded
    * collect doubles as the size probe AND the kernel input (the
    * labelPropagateAuto pattern): `limit(cap+1)` caps what can ever
    * land on the driver, and a small corpus pays the set-building
    * aggregation once instead of twice. Over-cap corpora fall back to
    * the shuffle join, re-deriving from `tok` — the big-corpus path,
    * where one extra aggregate is noise. At scale callers pass 0 to
    * skip the probe entirely. */
  def jaccardDocPairsAuto(s: SparkSession, tok: DataFrame, tau: Double,
                          maxKernelSets: Int = 4096): DataFrame = {
    import s.implicits._
    if (maxKernelSets > 0) {
      val bounded = distinctSetsDF(tok).select(col("toks"), col("members"))
        .limit(maxKernelSets + 1).as[(Seq[String], Seq[Long])].collect()
      if (bounded.length <= maxKernelSets)
        jaccardDocPairsKernelSets(s, compactSets(bounded), tau)
      else jaccardDocPairs(s, tok, tau)
    } else jaccardDocPairs(s, tok, tau)
  }

  /** Distinct token sets, collected: the driver-kernel representation.
    * `ids` are compact vocab indices (sorted), `mask` a 64-bit set when
    * the vocabulary fits. Small corpora only (see kernel scaladoc). */
  final case class TokSet(toks: Array[String], ids: Array[Int], mask: Long,
                          members: Array[Long])

  /** compact collected (toks, members) rows into the kernel form */
  def compactSets(sets: Array[(Seq[String], Seq[Long])]): Array[TokSet] = {
    val vocab = sets.flatMap(_._1).distinct.sorted.zipWithIndex.toMap
    val useMask = vocab.size <= 64
    sets.map { case (ts, ms) =>
      val ids = ts.map(vocab).toArray.sorted
      val mask = if (useMask) ids.foldLeft(0L)((m, i) => m | (1L << i)) else 0L
      TokSet(ts.toArray, ids, mask, ms.toArray.sorted)
    }
  }

  def distinctSetsOf(s: SparkSession, tok: DataFrame): Array[TokSet] = {
    import s.implicits._
    compactSets(distinctSetsDF(tok).select(col("toks"), col("members"))
      .as[(Seq[String], Seq[Long])].collect())
  }

  import graft.functions.Hashing
  import graft.functions.Hashing.{md5bytes, byteLess, toHex}

  // Exact dedup: group by content hash, keep the smallest doc_id.
  spark("d_exact",
    (s, d) => Tables.t(s, d, "documents")
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
      .select("keep_id", "h", "dup_count")
      .orderBy("keep_id"),
    """SELECT min(doc_id) AS keep_id, md5(text) AS h, count(*) AS dup_count
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin)

  // Exact dedup via dropDuplicates (retained row is arbitrary → expose
  // only the deterministic count).
  spark("d_exact_count",
    (s, d) => Tables.t(s, d, "documents").dropDuplicates("text")
      .agg(count(lit(1)).as("n_unique")),
    "SELECT count(DISTINCT text) AS n_unique FROM documents")

  // Token-set Jaccard near-dup, ≥ 0.5 — the distributed prefix-filter
  // join (see jaccardDocPairs). The oracle is the naive token self-join.
  spark("d_jaccard",
    // The 8.9M-pair ordered dump: pack (id_a, id_b) into ONE long key
    // and range-sort 8 fat partitions. NO checkpoint — the sort's
    // range-sampling re-executes the join, but the int-kernel join is
    // cheaper to recompute than millions of rows are to pin in the
    // block store (measured 13 s vs 97 s at sf0.1 in r10; RE-CONFIRMED
    // in the r15 optimization round: pinning the packed 16-B (k, jac)
    // pairs for a PackedDump dump measured 14.7 s vs 5.9 s in the
    // official paced suite — the 8.9M-row pin also evicted the
    // MEMORY_ONLY caches of the d_incremental rows that run after it,
    // regressing them 1.2-2.7 s each. The pin-based PackedDump stays
    // on d_minhash_lsh only, whose old shape already paid the pin).
    (s, d) => jaccardDocPairs(s, tokens(s, d), 0.5)
      .select((col("id_a") * lit(1L << 32) + col("id_b")).as("k"), col("jac"))
      .repartitionByRange(8, col("k"))
      .sortWithinPartitions("k")
      .select(shiftright(col("k"), 32).as("id_a"),
              (col("k") - shiftright(col("k"), 32) * lit(1L << 32)).as("id_b"),
              col("jac")),
    s"""WITH tok AS ($tokSql),
       |sz AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |      FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT id_a, id_b, CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jac
       |FROM p JOIN sz sa ON p.id_a = sa.doc_id JOIN sz sb ON p.id_b = sb.doc_id
       |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin)

  // Character 3-gram Jaccard near-dup (bounded to doc_id < 200 so the
  // oracle's gram self-join stays tractable): same distributed join,
  // gram vocabulary well beyond 64 → general array-intersect path.
  spark("d_ngram_jaccard",
    (s, d) => {
      val grams = Tables.t(s, d, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          explode(array_distinct(expr(
            "transform(sequence(1, greatest(length(text) - 2, 1)), i -> substr(text, i, 3))"))).as("w"))
      // the query caps the corpus at 200 docs, so the auto-dispatch
      // takes the sanctioned small-corpus kernel; unbounded corpora go
      // through the shuffle join (maxKernelSets gates the choice)
      jaccardDocPairsAuto(s, grams, 0.8).orderBy("id_a", "id_b")
    },
    """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
      |g AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 3) AS w
      |      FROM docs, unnest(range(1, greatest(length(text) - 2, 1) + 1)) r(i)),
      |sz AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      |      FROM g a JOIN g b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT id_a, id_b, CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jac
      |FROM p JOIN sz sa ON p.id_a = sa.doc_id JOIN sz sb ON p.id_b = sb.doc_id
      |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8
      |ORDER BY id_a, id_b""".stripMargin)

  // ---- MinHash + LSH banding (shuffle) ----------------------------------

  /** first band (0-based) on which two k=16 signatures agree over all
    * 4 of its rows; -1 if none. Signatures as 32 longs (16 digests × 2
    * big-endian words — equality of the longs ⟺ equality of the hex
    * band signature the oracle groups on); a band is longs 8b..8b+7. */
  private[queries] def firstSharedBand(a: Array[Long], b: Array[Long]): Int = {
    var bd = 0
    while (bd < 4) {
      var r = 8 * bd; val end = r + 8; var same = true
      while (r < end && same) { same = a(r) == b(r); r += 1 }
      if (same) return bd
      bd += 1
    }
    -1
  }

  /** MinHash+LSH candidate doc pairs from a (doc_id, w) token frame —
    * fully distributed: per-doc signatures via the MinHashAgg typed
    * Aggregator (partial+final merge), then one shuffle grouping on
    * (band, band-signature). Each bucket emits a pair only when this is
    * the FIRST band the two signatures share (both full signatures ride
    * along in the bucket rows), so the global pair set is exactly
    * deduplicated without a second `distinct()` shuffle and without any
    * driver-side signature table. 16 hash functions, 4 bands × 4 rows;
    * both engines use min(md5(i || ':' || token)) so signatures match.
    *
    * Hot buckets (template corpora: near-identical, non-equal sets
    * sharing a band signature) are bounded by [[BoundedBucketPairs]]:
    * buckets over `bucketCap` sets split into block-pair tasks — the
    * identical pair set, but ≤ 2·⌈m/blocks⌉ sets per task instead of
    * the whole bucket on one task. */
  /** Packed-long variant: each candidate pair as (id_a << 32) + id_b in
    * one column "k". The pair-heavy inner machinery (emit, union,
    * shuffle) moves 8-byte primitives instead of two-field rows; the
    * public [[minhashCandidates]] unpacks in codegen.
    *
    * Id contract: packing is lossless only for doc ids in [0, 2^31);
    * out-of-range ids fail fast (checked per member below) rather than
    * silently producing colliding pair keys. */
  def minhashCandidatesPacked(s: SparkSession, tok: DataFrame,
                              bucketCap: Int = 4096, blocks: Int = 16): DataFrame = {
    import s.implicits._
    import graft.functions.Hashing
    import graft.operators.BoundedBucketPairs
    // docs collapse to DISTINCT token sets first (identical docs are
    // common in real corpora): signatures are computed once per set —
    // map-side over the already-grouped token array — and buckets pair
    // SETS, so the O(m²) loops shrink quadratically with redundancy.
    // Identical-set doc pairs share every band by construction and are
    // emitted directly from the membership lists.
    // AQE coalesces the small distinct-set aggregate to very few
    // partitions; re-spread before the signature flatMap so the md5
    // hashing (the expensive map of this pipeline) uses every core
    val sets = distinctSetsDF(tok)
      .repartition(s.sparkContext.defaultParallelism)
    val bandRows = sets.select(col("toks"), col("members")).as[(Seq[String], Seq[Long])]
      .flatMap { case (toks, members) =>
        val k = 16
        val mh = new Array[Byte](k * 16)
        java.util.Arrays.fill(mh, 0xFF.toByte)
        toks.foreach(w => Hashing.minhashUpdate(mh, k, w))
        // signature as 32 big-endian longs: long equality ⟺ hex
        // equality, so band compares cost 8 long compares, and the
        // bucket rows carry 256 bytes instead of 16 hex strings
        val sig = new Array[Long](2 * k)
        val bb = java.nio.ByteBuffer.wrap(mh).order(java.nio.ByteOrder.BIG_ENDIAN)
        var i = 0
        while (i < 2 * k) { sig(i) = bb.getLong(); i += 1 }
        val m = members.toArray
        // packed-pair id contract (checked, not assumed): (a<<32)+b is
        // lossless only for 0 <= id < 2^31. Violations fail loudly here
        // instead of silently colliding pair keys downstream.
        m.foreach { id =>
          if (id < 0L || id >= (1L << 31))
            throw new IllegalArgumentException(
              s"minhashCandidatesPacked: doc_id $id outside packed range [0, 2^31)")
        }
        Iterator.tabulate(4)(b => (b, Hashing.toHexRange(mh, 64 * b, 64), (m, sig)))
      }
    val cross = BoundedBucketPairs.pairs[(Array[Long], Array[Long]), Long](
      bandRows, bucketCap, blocks,
      blockOf = item => item._1.head.toInt,
      emit = (band, a, b) =>
        if (firstSharedBand(a._2, b._2) == band) {
          // packed pairs straight into a primitive-friendly buffer:
          // no per-pair tuple, no nested iterator churn
          val out = new Array[Long](a._1.length * b._1.length)
          var n = 0; var i = 0
          while (i < a._1.length) {
            var j = 0
            while (j < b._1.length) {
              val x = a._1(i); val y = b._1(j)
              out(n) = (math.min(x, y) << 32) + math.max(x, y); n += 1
              j += 1
            }
            i += 1
          }
          out.iterator
        } else Iterator.empty)
      .toDF("k")
    // intra-set pairs: members are sorted, so x < y holds positionally
    val intra = sets.select(explode(expr(
        "flatten(transform(members, (x, i) -> " +
        "transform(slice(members, i + 2, size(members)), " +
        "y -> x * CAST(4294967296 AS BIGINT) + y)))")).as("k"))
    cross.union(intra)
  }

  /** MinHash+LSH candidate doc pairs from a (doc_id, w) token frame —
    * fully distributed: map-side per-set signatures, then one shuffle
    * grouping on (band, band-signature). Each bucket emits a pair only
    * when this is the FIRST band the two signatures share (both full
    * signatures ride along in the bucket rows), so the global pair set
    * is exactly deduplicated without a second `distinct()` shuffle and
    * without any driver-side signature table. 16 hash functions,
    * 4 bands × 4 rows; both engines use min(md5(i || ':' || token)) so
    * signatures match.
    *
    * Hot buckets (template corpora: near-identical, non-equal sets
    * sharing a band signature) are bounded by [[BoundedBucketPairs]]:
    * buckets over `bucketCap` sets split into block-pair tasks — the
    * identical pair set, but ≤ 2·⌈m/blocks⌉ sets per task instead of
    * the whole bucket on one task. */
  def minhashCandidates(s: SparkSession, tok: DataFrame,
                        bucketCap: Int = 4096, blocks: Int = 16): DataFrame =
    minhashCandidatesPacked(s, tok, bucketCap, blocks)
      .select(shiftright(col("k"), 32).as("id_a"),
              (col("k") - shiftright(col("k"), 32) * lit(1L << 32)).as("id_b"))

  spark("d_minhash_lsh",
    // Pack the pair into ONE long sort key (doc ids < 2^31): narrower
    // sort rows, one comparison per pair. The ordered dump sorts into
    // 8 range partitions (~1M keys each) rather than the session's 32:
    // the 6.7M-row result is shuffle-machinery-bound, not sort-bound,
    // so fewer/fatter sorted splits cut a third of the wall time while
    // keeping the sort parallel. r11 re-measure (LshProbe): the pair
    // PIPELINE now costs ~1.7 s while the range sampler re-executes it
    // whole — pinning the 6.7M packed longs first (~54 MB, one cheap
    // pass) is cheaper than the re-execution it avoids (the r9-era
    // no-checkpoint judgment inverted as the pipeline grew; same-probe
    // A/B: 6.0 → 4.5 s warm).
    // r15 optimization: the pinned pairs dump through PackedDump — the
    // range exchange of 6.7M single-long rows was 2.2 s of pure shuffle
    // machinery (LshProbe `pinned_repart`); shipping the same bytes as
    // per-(bucket, task) long arrays + a primitive per-bucket sort
    // produces the identical globally-ordered rows for ~0.4 s.
    (s, d) => {
      val pinned = minhashCandidatesPacked(s, tokens(s, d)).localCheckpoint(true)
      graft.operators.PackedDump.sortedLongs(s, pinned, "k")
        .select(shiftright(col("k"), 32).as("id_a"),
                (col("k") - shiftright(col("k"), 32) * lit(1L << 32)).as("id_b"))
    },
    s"""WITH tok AS ($tokSql),
       |ih AS (SELECT doc_id, i, md5(CAST(i AS VARCHAR) || ':' || w) AS h
       |       FROM tok CROSS JOIN range(0, 16) r(i)),
       |sig AS (SELECT doc_id, i, min(h) AS mh FROM ih GROUP BY doc_id, i),
       |band AS (SELECT doc_id, i // 4 AS band, string_agg(mh, '|' ORDER BY i) AS bsig
       |         FROM sig GROUP BY doc_id, i // 4)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM band a JOIN band b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
       |ORDER BY id_a, id_b""".stripMargin)

  // Split-leakage audit: near-duplicate pairs that STRADDLE the
  // deterministic train/val/test boundary (t_split_assign's bucket
  // function) — the eval-integrity check a split pipeline must run,
  // because a test doc with a train near-duplicate is contamination
  // the split hash can't prevent. Composition of proven pieces: the
  // exactly-deduplicated LSH candidate stream (first-shared-band, no
  // distinct() pass), with each side's split derived map-side from the
  // PURE id→bucket function — no join against an assignment table, no
  // second pass over the corpus. The quadratic candidate stream
  // collapses into ≤6 (split_a, split_b) counts via map-side partial
  // aggregation — nothing pair-shaped is ever sorted or dumped.
  /** full-corpus stored signature index for the audit queries — the
    * "you will not re-hash the corpus to audit it" shape (VERDICT r9
    * "What's wrong" #2): built once per (sf, recipe) outside the timed
    * region, like the stored IVF index. */
  val dsAuditIndex: VortexQueries.Ds =
    VortexQueries.dataset("corpus_sigs_all", Seq("documents"), "v1") { (s, d, dir) =>
      buildCorpusIndex(s, tokens(s, d), dir)
    }

  spark("d_split_leakage",
    (s, d) => {
      import s.implicits._
      import graft.functions.SplitBucket
      val dir = dsAuditIndex.ensure(s, d)
      // candidate SET pairs from the STORED band keys — zero hashing.
      // Pairs pack into one long before the DISTINCT (sids < 2^31 by
      // the packed-pair id contract), exactly mirroring the oracle's
      // DISTINCT. Measured A/Bs at sf0.1 (BASELINE r10): first-shared-
      // band map-side dedup carrying both signatures through the join
      // was SLOWER (2.4-2.9 s: 5.5M wide rows deserializing Seq[String]
      // at the typed boundary), as was BoundedBucketPairs bucket
      // enumeration (3.9 s: per-pair iterator/array churn); the narrow
      // packed-long distinct (~0.75 s for 5.5M→3.3M) wins.
      val bands = s.read.format("vortex").load(s"$dir/bands")
      val sidPairs = bands.select(col("sid").as("sa"), col("band"), col("bkey"))
        .join(bands.select(col("sid").as("sb"), col("band"), col("bkey")),
              Seq("band", "bkey"))
        .where(col("sa") < col("sb"))
        .select((col("sa") * lit(1L << 32) + col("sb")).as("pk")).distinct()
        .select(shiftright(col("pk"), 32).as("sa"),
                (col("pk") - shiftright(col("pk"), 32) * lit(1L << 32)).as("sb"))
      // per-set members bucketed by split into three SORTED id lists,
      // derived map-side from the pure id→bucket function (members are
      // stored sorted ascending, so the buckets stay sorted); tiny
      // frame (one row per distinct set) → AQE broadcasts it into both
      // pair joins
      val bySplit = s.read.format("vortex").load(s"$dir/sets")
        .select(col("sid"), col("members")).as[(Long, Seq[Long])]
        .map { case (sid, members) =>
          val out = Array.fill(3)(scala.collection.mutable.ArrayBuilder.make[Long])
          members.foreach(id => out(SplitBucket.splitIdx(id)) += id)
          (sid, out(0).result(), out(1).result(), out(2).result())
        }.toDF("sid", "tr", "vl", "te")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      // merge-count kernel: straddling pairs per ordered (split_a,
      // split_b) combo WITHOUT materializing doc pairs — count of
      // (x ∈ X, y ∈ Y, x < y) over two sorted lists is O(|X| + |Y|),
      // so the audit is linear in set sizes where the former explode
      // was quadratic in them (the candidate OUTPUT dump cost)
      def countLess(x: Array[Long], y: Array[Long]): Long = {
        var i = 0; var j = 0; var n = 0L
        while (j < y.length) {
          while (i < x.length && x(i) < y(j)) i += 1
          n += i; j += 1
        }
        n
      }
      val combos = (for { p <- 0 until 3; q <- 0 until 3 if p != q } yield (p, q)).toArray
      val names = SplitBucket.SplitNames
      // cross-set straddles: each band-matched set pair contributes
      // countLess(A_p, B_q) (smaller id on the A side) + countLess(B_p, A_q).
      // Per-PARTITION 3×3 accumulator: millions of set pairs collapse
      // to ≤6 rows per partition before any further shuffle.
      val a = bySplit.select(col("sid").as("sa"), col("tr").as("a0"),
        col("vl").as("a1"), col("te").as("a2"))
      val b = bySplit.select(col("sid").as("sb"), col("tr").as("b0"),
        col("vl").as("b1"), col("te").as("b2"))
      def pick(t: (Array[Long], Array[Long], Array[Long], Array[Long], Array[Long], Array[Long]),
               side: Int, p: Int): Array[Long] = (side * 3 + p) match {
        case 0 => t._1; case 1 => t._2; case 2 => t._3
        case 3 => t._4; case 4 => t._5; case _ => t._6
      }
      val cross = sidPairs.join(a, "sa").join(b, "sb")
        .select(col("a0"), col("a1"), col("a2"), col("b0"), col("b1"), col("b2"))
        .as[(Array[Long], Array[Long], Array[Long], Array[Long], Array[Long], Array[Long])]
        .mapPartitions { it =>
          val acc = new Array[Long](9)
          it.foreach { t =>
            var ci = 0
            while (ci < combos.length) {
              val (p, q) = combos(ci)
              acc(p * 3 + q) += countLess(pick(t, 0, p), pick(t, 1, q)) +
                countLess(pick(t, 1, p), pick(t, 0, q))
              ci += 1
            }
          }
          combos.iterator.map { case (p, q) => (names(p), names(q), acc(p * 3 + q)) }
            .filter(_._3 > 0L)
        }
      // intra-set straddles (identical docs share every band): pairs
      // x < y inside one set with differing splits
      val intra = bySplit.select(col("tr"), col("vl"), col("te"))
        .as[(Array[Long], Array[Long], Array[Long])]
        .mapPartitions { it =>
          val acc = new Array[Long](9)
          it.foreach { case (t0, t1, t2) =>
            val aa = Array(t0, t1, t2)
            var ci = 0
            while (ci < combos.length) {
              val (p, q) = combos(ci)
              acc(p * 3 + q) += countLess(aa(p), aa(q))
              ci += 1
            }
          }
          combos.iterator.map { case (p, q) => (names(p), names(q), acc(p * 3 + q)) }
            .filter(_._3 > 0L)
        }
      val out = cross.union(intra).toDF("split_a", "split_b", "n")
        .groupBy("split_a", "split_b")
        .agg(sum(col("n")).as("n_pairs"))
        .orderBy("split_a", "split_b")
      val materialized = out.localCheckpoint(true)
      bySplit.unpersist(false)
      materialized
    },
    s"""WITH tok AS ($tokSql),
       |ih AS (SELECT doc_id, i, md5(CAST(i AS VARCHAR) || ':' || w) AS h
       |       FROM tok CROSS JOIN range(0, 16) r(i)),
       |sig AS (SELECT doc_id, i, min(h) AS mh FROM ih GROUP BY doc_id, i),
       |band AS (SELECT doc_id, i // 4 AS band, string_agg(mh, '|' ORDER BY i) AS bsig
       |         FROM sig GROUP BY doc_id, i // 4),
       |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |      FROM band a JOIN band b
       |        ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
       |sp AS (SELECT
       |  ${graft.functions.SplitBucket.splitSql("id_a")} AS split_a,
       |  ${graft.functions.SplitBucket.splitSql("id_b")} AS split_b
       |FROM p)
       |SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs
       |FROM sp WHERE split_a <> split_b
       |GROUP BY 1, 2 ORDER BY split_a, split_b""".stripMargin)

  /** Bounded min-label propagation over an undirected pair graph:
    * `rounds` iterations of label(v) ← min(label(v), min label of
    * neighbors), labels initialized to doc_id. Each round is one
    * join + one aggregation (both shuffle on doc id) — the
    * large-star/small-star family's scalable shape; K rounds connect
    * components of diameter ≤ K, and identical-doc cliques collapse in
    * one round. Deterministic at any K on any partitioning, so the
    * K-round result itself is oracle-checkable. */
  def labelPropagate(docs: DataFrame, pairs: DataFrame, rounds: Int): DataFrame = {
    val edges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .union(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
    var labels = docs.select(col("doc_id"), col("doc_id").as("lbl"))
    for (_ <- 1 to rounds) {
      val nbr = edges
        .join(labels.select(col("doc_id").as("u"), col("lbl").as("ulbl")), "u")
        .groupBy(col("v").as("doc_id")).agg(min(col("ulbl")).as("nlbl"))
      labels = labels.join(nbr, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
    }
    labels
  }

  /** Small-corpus driver kernel for [[labelPropagate]]: the identical
    * K-round min-label result computed in one pass over a collected
    * edge list — O(docs + rounds·edges) driver work, ZERO shuffles vs
    * the distributed path's 3 per round. Gated exactly like
    * [[jaccardDocPairsKernel]]: NEVER the default; callers prove the
    * corpus is tiny first ([[labelPropagateAuto]]). */
  def labelPropagateKernel(s: SparkSession, docs: DataFrame, pairs: DataFrame,
                           rounds: Int): DataFrame = {
    import s.implicits._
    labelPropagateKernelEdges(s, docs,
      pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
        .as[(Long, Long)].collect(), rounds)
  }

  /** Kernel core over pre-collected edges — lets the auto dispatch
    * bound AND reuse one collect instead of paying a separate probe
    * count job (the pairs frame is usually the expensive jaccard
    * pipeline; executing it twice measured +50% on d_dedup_clusters). */
  private def labelPropagateKernelEdges(s: SparkSession, docs: DataFrame,
                                        edges: Array[(Long, Long)], rounds: Int): DataFrame = {
    import s.implicits._
    // kernel math runs in long; output casts back to the caller's
    // doc_id type so auto-dispatch is schema-identical to the
    // distributed path (whose lbl inherits doc_id's type too)
    val idType = docs.schema("doc_id").dataType
    val ids = docs.select(col("doc_id").cast("long")).as[Long].collect().sorted
    val idx = ids.zipWithIndex.toMap
    // edges touching unknown docs drop, as the distributed path's inner
    // join on the label table does
    val es = edges
      .filter { case (a, b) => idx.contains(a) && idx.contains(b) }
      .flatMap { case (a, b) => Seq((idx(a), idx(b)), (idx(b), idx(a))) }
    var lbl = ids.clone()
    for (_ <- 1 to rounds) {
      val nxt = lbl.clone()
      es.foreach { case (u, v) =>
        if (lbl(u) < nxt(v)) nxt(v) = lbl(u) }
      lbl = nxt
    }
    s.sparkContext.parallelize(ids.indices.map(i => (ids(i), lbl(i))), 1)
      .toDF("doc_id", "lbl")
      .select(col("doc_id").cast(idType), col("lbl").cast(idType))
  }

  /** Dispatch mirror of [[jaccardDocPairsAuto]]: the distributed
    * join+agg rounds unless BOTH the doc count and the pair count
    * provably fit the driver kernel (a near-all-duplicate corpus under
    * the doc cap can still carry ~m²/2 pairs — the bounded collect
    * keeps that off the driver WITHOUT a second execution of the pair
    * pipeline: limit(cap+1) caps what can ever land on the driver, and
    * the collected edges feed the kernel directly). At scale callers
    * pass 0 to skip the probes. */
  def labelPropagateAuto(s: SparkSession, docs: DataFrame, pairs: DataFrame,
                         rounds: Int, maxKernelDocs: Int = 4096,
                         maxKernelPairs: Int = 1 << 20): DataFrame = {
    import s.implicits._
    if (maxKernelDocs > 0 &&
        docs.limit(maxKernelDocs + 1).count() <= maxKernelDocs) {
      val bounded = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
        .limit(maxKernelPairs + 1).as[(Long, Long)].collect()
      if (bounded.length <= maxKernelPairs)
        labelPropagateKernelEdges(s, docs, bounded, rounds)
      else labelPropagate(docs, pairs, rounds)
    } else labelPropagate(docs, pairs, rounds)
  }

  // Dedup clusters: exact Jaccard-≥-τ pairs → 4-round min-label
  // propagation → (doc, cluster). Bounded to doc_id < 300 so the
  // oracle's all-pairs formulation stays tractable; the operator
  // itself is corpus-size-agnostic (see Engine.dedupClusters). The
  // 300-doc bound makes the auto-dispatch take the driver kernels on
  // both stages (pairs AND propagation) — the distributed shapes are
  // what unbounded corpora get.
  spark("d_dedup_clusters",
    (s, d) => {
      val docs = Tables.t(s, d, "documents").filter(col("doc_id") < 300).select("doc_id")
      val tok = tokens(s, d).filter(col("doc_id") < 300)
      val pairs = jaccardDocPairsAuto(s, tok, 0.5).select("id_a", "id_b")
      labelPropagateAuto(s, docs, pairs, 4)
        .select(col("doc_id"), col("lbl").as("cluster"))
        .orderBy("doc_id")
    },
    s"""WITH tok AS (SELECT * FROM ($tokSql) t WHERE doc_id < 300),
       |sz AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |      FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2),
       |pr AS (SELECT id_a, id_b FROM p JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
       |       WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5),
       |e AS (SELECT id_a AS u, id_b AS v FROM pr UNION ALL SELECT id_b, id_a FROM pr),
       |l0 AS (SELECT doc_id, doc_id AS lbl FROM documents WHERE doc_id < 300),
       |l1 AS (SELECT l.doc_id, least(l.lbl, coalesce(m.nl, l.lbl)) AS lbl FROM l0 l
       |       LEFT JOIN (SELECT e.v AS doc_id, min(x.lbl) AS nl FROM e JOIN l0 x ON x.doc_id = e.u GROUP BY 1) m
       |       USING (doc_id)),
       |l2 AS (SELECT l.doc_id, least(l.lbl, coalesce(m.nl, l.lbl)) AS lbl FROM l1 l
       |       LEFT JOIN (SELECT e.v AS doc_id, min(x.lbl) AS nl FROM e JOIN l1 x ON x.doc_id = e.u GROUP BY 1) m
       |       USING (doc_id)),
       |l3 AS (SELECT l.doc_id, least(l.lbl, coalesce(m.nl, l.lbl)) AS lbl FROM l2 l
       |       LEFT JOIN (SELECT e.v AS doc_id, min(x.lbl) AS nl FROM e JOIN l2 x ON x.doc_id = e.u GROUP BY 1) m
       |       USING (doc_id)),
       |l4 AS (SELECT l.doc_id, least(l.lbl, coalesce(m.nl, l.lbl)) AS lbl FROM l3 l
       |       LEFT JOIN (SELECT e.v AS doc_id, min(x.lbl) AS nl FROM e JOIN l3 x ON x.doc_id = e.u GROUP BY 1) m
       |       USING (doc_id))
       |SELECT doc_id, lbl AS cluster FROM l4 ORDER BY doc_id""".stripMargin)

  /** LSH candidates verified by exact Jaccard (join back to the token
    * sets): the full near-dup operation a pipeline would run. */
  def minhashNearDup(s: SparkSession, tok: DataFrame, tau: Double): DataFrame = {
    val sets = tok.groupBy("doc_id").agg(sort_array(collect_set(col("w"))).as("toks"))
    val cand = minhashCandidates(s, tok)
    cand
      .join(sets.select(col("doc_id").as("id_a"), col("toks").as("ta"), size(col("toks")).as("na")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("toks").as("tb"), size(col("toks")).as("nb")), "id_b")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("jac", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= tau)
      .select(col("id_a"), col("id_b"), col("jac"))
  }

  /** Per-SET LSH band keys: (sid, band, band-hex) — 4 bands × 4 rows
    * over the 16-hash MinHash signature, hashed map-side once per
    * DISTINCT token set (same parameters as the self-join path, so
    * both produce the same buckets; same set-collapse discipline, so
    * the md5 work — the dominant cost — is paid per distinct set, not
    * per document). */
  private[graft] def setBands(s: SparkSession, sets: DataFrame): DataFrame = {
    import s.implicits._
    import graft.functions.Hashing
    sets.select(col("sid"), col("toks")).as[(Long, Seq[String])]
      .flatMap { case (sid, toks) =>
        val k = 16
        val mh = new Array[Byte](k * 16)
        java.util.Arrays.fill(mh, 0xFF.toByte)
        toks.foreach(w => Hashing.minhashUpdate(mh, k, w))
        Iterator.tabulate(4)(b => (sid, b, Hashing.toHexRange(mh, 64 * b, 64)))
      }.toDF("sid", "band", "bkey")
  }

  /** Incremental (against-corpus) near-dup — the daily-ingest shape: a
    * new batch checked for duplicates of an EXISTING corpus, without
    * the corpus×corpus self-join. Both sides collapse to distinct
    * token sets, band keys hash once per set, one equi-join on
    * (band, band-key) yields candidate SET pairs (deduplicated), exact
    * Jaccard verifies each set pair, and doc pairs explode from the
    * membership lists last. Returns one row per verified duplicate
    * pair (batch doc `bid`, corpus doc `cid`, exact `jac` ≥ τ).
    *
    * At 100 TB: the batch side is small — AQE broadcasts it into the
    * band join — and nothing here is O(corpus²): work is
    * O(corpus + batch + matches). Each side's distinct-sets aggregate
    * feeds BOTH the banding and the verification join, so it is
    * persisted MEMORY_ONLY for the call (one evaluation; evicted or
    * lost blocks recompute from lineage) and unpersisted before the
    * call returns — nothing accumulates in the session CacheManager
    * across calls. A production ingest pipeline would go further and
    * store the corpus sets/signatures as a dataset, re-hashing only
    * the batch per ingest — this operator takes token frames so the
    * caller can feed exactly that.
    */
  def minhashNearDupAgainst(s: SparkSession, corpusTok: DataFrame,
                            batchTok: DataFrame, tau: Double): DataFrame = {
    val csets = distinctSetsDF(corpusTok)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    // AgainstIndex materializes its (cached) result eagerly, so the
    // corpus-set cache is drained by the time it returns — drop it
    // here rather than leaking a corpus-sized cache per call
    // (Dataset caches live in the session CacheManager until an
    // explicit unpersist; the ContextCleaner never reclaims them).
    val out = minhashNearDupAgainstIndex(s, csets, setBands(s, csets), batchTok, tau)
    csets.unpersist(false)
    out
  }

  /** Indexed variant — the "hash the corpus once EVER" form: `csets`
    * (sid, toks, members) and `cbands` (sid, band, bkey) come from a
    * PRECOMPUTED corpus index (typically a stored vortex dataset, see
    * `d_incremental_stored`); only the batch is tokenized and hashed
    * per ingest.
    *
    * The returned match frame is materialized eagerly and CACHED
    * (MEMORY_ONLY — far smaller than either input side); the batch-set
    * intermediate is unpersisted before returning. Callers that keep
    * the result beyond one consumption should `unpersist()` it when
    * done. */
  def minhashNearDupAgainstIndex(s: SparkSession, csets: DataFrame, cbands: DataFrame,
                                 batchTok: DataFrame, tau: Double): DataFrame = {
    val bsets = distinctSetsDF(batchTok)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val out = minhashNearDupVerify(s, csets, cbands, bsets, tau)
    bsets.unpersist(false)
    out
  }

  /** Verification core shared by the tok-frame entry points and the
    * set-frame query paths: band-join candidates, then exact Jaccard
    * per candidate SET pair, exploded to doc pairs. `bsets` must
    * already be persisted by the caller (it feeds both the banding and
    * the verification join).
    *
    * The per-pair intersection runs on xxhash64-of-token SORTED LONG
    * arrays via a primitive merge (SetKernels.sortedInterCount) — 17×
    * the former string `array_intersect` plan (IncProbe r16: 4.5 s →
    * 0.27 s over the same 990k-pair candidate set at sf0.1), because
    * the string form builds a hash set and hashes every UTF8String
    * PER ROW. Exactness: intersection counts over hashes equal counts
    * over tokens iff xxhash64 is injective on the observed vocabulary,
    * which the guard aggregate CHECKS (countDistinct(w) vs
    * countDistinct(xxhash64(w)) over both set frames — one small job
    * over the cached arrays); a collision — never observed, ~V²/2⁶⁵
    * prior — falls back to the string-intersect plan, so the result is
    * identical either way and never silently wrong. */
  private[graft] def minhashNearDupVerify(s: SparkSession, csets: DataFrame,
                                          cbands: DataFrame, bsets: DataFrame,
                                          tau: Double,
                                          forceExact: Boolean = false): DataFrame = {
    import s.implicits._
    val cand = setBands(s, bsets).select(col("sid").as("bsid"), col("band"), col("bkey"))
      .join(cbands.select(col("sid").as("csid"), col("band"), col("bkey")),
            Seq("band", "bkey"))
      .select("bsid", "csid").distinct()
    val g = csets.select(explode(col("toks")).as("w"))
      .union(bsets.select(explode(col("toks")).as("w")))
      .agg(countDistinct(col("w")).as("nw"),
           countDistinct(xxhash64(col("w"))).as("nh")).head()
    val matched =
      if (!forceExact && g.getLong(0) == g.getLong(1)) {
        val bh = bsets.select(col("sid").as("bsid"),
          sort_array(expr("transform(toks, t -> xxhash64(t))")).as("hb"),
          size(col("toks")).as("nb"), col("members").as("bm"))
        val ch = csets.select(col("sid").as("csid"),
          sort_array(expr("transform(toks, t -> xxhash64(t))")).as("hc"),
          size(col("toks")).as("nc"), col("members").as("cm"))
        cand.join(bh, "bsid").join(ch, "csid")
          .select(col("hb"), col("nb"), col("bm"), col("hc"), col("nc"), col("cm"))
          .as[(Array[Long], Int, Array[Long], Array[Long], Int, Array[Long])]
          .mapPartitions { it =>
            it.flatMap { case (hb, nb, bm, hc, nc, cm) =>
              val inter = graft.functions.SetKernels.sortedInterCount(hb, hc)
              val jac = inter.toDouble / (nb + nc - inter)
              if (jac >= tau)
                bm.iterator.flatMap(bid => cm.iterator.map(cid => (bid, cid, jac)))
              else Iterator.empty
            }
          }.toDF("bid", "cid", "jac")
      } else {
        cand
          .join(bsets.select(col("sid").as("bsid"), col("toks").as("tb"),
            size(col("toks")).as("nb"), col("members").as("bm")), "bsid")
          .join(csets.select(col("sid").as("csid"), col("toks").as("tc"),
            size(col("toks")).as("nc"), col("members").as("cm")), "csid")
          .withColumn("inter", size(array_intersect(col("tb"), col("tc"))))
          .withColumn("jac", col("inter").cast("double") / (col("nb") + col("nc") - col("inter")))
          .filter(col("jac") >= tau)
          .select(explode(col("bm")).as("bid"), col("cm"), col("jac"))
          .select(col("bid"), explode(col("cm")).as("cid"), col("jac"))
      }
    val out = matched.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    // materialize while bsets is still cached, then release it: the
    // downstream consumer reads `out` from cache (an evicted block
    // recomputes from lineage — correct, just re-reads the inputs)
    out.count()
    out
  }

  private val incrementalOracle =
    s"""WITH tok AS ($tokSql),
       |ih AS (SELECT doc_id, i, md5(CAST(i AS VARCHAR) || ':' || w) AS h
       |       FROM tok CROSS JOIN range(0, 16) r(i)),
       |sig AS (SELECT doc_id, i, min(h) AS mh FROM ih GROUP BY doc_id, i),
       |band AS (SELECT doc_id, i // 4 AS band, string_agg(mh, '|' ORDER BY i) AS bsig
       |         FROM sig GROUP BY doc_id, i // 4),
       |cand AS (SELECT DISTINCT b.doc_id AS bid, c.doc_id AS cid
       |         FROM band b JOIN band c ON b.band = c.band AND b.bsig = c.bsig
       |         WHERE b.doc_id % 7 = 0 AND c.doc_id % 7 <> 0),
       |n AS (SELECT doc_id, count(*) AS nt FROM tok GROUP BY doc_id),
       |inter AS (SELECT ca.bid, ca.cid, count(*) AS it
       |          FROM cand ca
       |          JOIN tok tb ON tb.doc_id = ca.bid
       |          JOIN tok tc ON tc.doc_id = ca.cid AND tc.w = tb.w
       |          GROUP BY ca.bid, ca.cid),
       |ver AS (SELECT i.bid, i.cid,
       |          CAST(i.it AS DOUBLE) / (nb.nt + nc.nt - i.it) AS jac
       |        FROM inter i
       |        JOIN n nb ON nb.doc_id = i.bid
       |        JOIN n nc ON nc.doc_id = i.cid
       |        WHERE CAST(i.it AS DOUBLE) / (nb.nt + nc.nt - i.it) >= 0.5)
       |SELECT bid, count(*) AS n_dups, max(jac) AS best_jac
       |FROM ver GROUP BY bid ORDER BY bid""".stripMargin

  // Incremental dedup query: docs with doc_id % 7 = 0 are "today's
  // batch", the rest the standing corpus; per batch doc, how many
  // verified corpus duplicates and the best Jaccard. The oracle
  // replicates the bipartite banding exactly (same 16 hashes, 4 bands).
  spark("d_incremental",
    (s, d) => {
      // both sides collapse doc→set straight off documents (docSetsDF:
      // one exchange per side instead of distinctSetsDF's two)
      val csets = docSetsDF(s, d, col("doc_id") % 7 =!= 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      val bsets = docSetsDF(s, d, col("doc_id") % 7 === 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      val matched = minhashNearDupVerify(s, csets, setBands(s, csets), bsets, tau = 0.5)
      csets.unpersist(false)
      bsets.unpersist(false)
      // hold the cached match frame's HANDLE: unpersisting a derived
      // frame is a no-op (CacheManager matches the exact plan), so the
      // aggregate materializes first — bounded to ≤ one row per batch
      // doc, the designed daily-batch size — then the cache drops.
      // Nothing persists across reps.
      finishIncremental(s, matched)
    },
    incrementalOracle)

  /** aggregate + materialize the per-batch-doc result, then release
    * the match cache (shared by d_incremental / d_incremental_stored).
    * localCheckpoint(eager) pins the aggregate in executor block
    * storage and truncates lineage, so unpersisting `matched` can't
    * trigger recompute — and unlike the former collect()/
    * createDataFrame shape, no row round-trips the driver (at
    * production daily-batch scale the batch is millions of rows). The
    * checkpoint blocks are freed by the ContextCleaner once the
    * returned frame goes unreachable, so nothing accumulates across
    * Verify reps. */
  private def finishIncremental(s: SparkSession, matched: DataFrame): DataFrame = {
    val agg = matched
      .groupBy("bid").agg(count(lit(1)).as("n_dups"), max(col("jac")).as("best_jac"))
      .orderBy("bid")
    val out = agg.localCheckpoint(true)
    matched.unpersist(false)
    out
  }

  /** Stored corpus signature index — the "hash the corpus once EVER"
    * shape made real: the corpus's distinct token sets and their LSH
    * band keys persisted as vortex datasets; each ingest hashes only
    * the batch and equi-joins the stored bands. */
  /** Build the stored corpus signature index at `dir` (distinct token
    * sets + their LSH band keys, each a vortex dataset) — the
    * "hash the corpus once EVER" step 1. */
  def buildCorpusIndex(s: SparkSession, corpusTok: DataFrame, dir: String): Unit = {
    val csets = distinctSetsDF(corpusTok)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    csets.write.format("vortex").mode("overwrite").save(s"$dir/sets")
    setBands(s, csets).write.format("vortex").mode("overwrite").save(s"$dir/bands")
    csets.unpersist(false)
  }

  /** Incremental index update — the daily-ingest APPEND: ONLY the new
    * docs are tokenized and hashed; their distinct sets and band keys
    * land as NEW files in the stored index. The standing corpus's
    * files are never read, re-hashed, or rewritten — a rebuild-on-
    * append would defeat "hash the corpus once ever". A token set
    * identical to an already-indexed one appends as its own row (its
    * sid is the min of the NEW members, disjoint from the old row's);
    * probes join both rows through the shared band keys and emit the
    * union of their member doc ids — the same pairs a from-scratch
    * rebuild over old∪new produces. */
  def appendCorpusIndex(s: SparkSession, newTok: DataFrame, dir: String): Unit = {
    val nsets = distinctSetsDF(newTok)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    nsets.write.format("vortex").mode("append").save(s"$dir/sets")
    setBands(s, nsets).write.format("vortex").mode("append").save(s"$dir/bands")
    nsets.unpersist(false)
  }

  val dsCorpusIndex: VortexQueries.Ds =
    VortexQueries.dataset("corpus_sigs", Seq("documents"), "v2") { (s, d, dir) =>
      buildCorpusIndex(s, tokens(s, d).filter(col("doc_id") % 7 =!= 0), dir)
    }

  // Same semantics and oracle as d_incremental, but probing the STORED
  // index: build-once outside the timed region (like the stored IVF
  // index), so the per-ingest cost is batch hashing + one band join.
  spark("d_incremental_stored",
    (s, d) => {
      val dir = dsCorpusIndex.ensure(s, d)
      // persist the index reads for the query: the candidate and
      // verification joins both consume them, and without a cache each
      // consumer re-decodes the stored chunks (measured 2.3× the whole
      // row); MEMORY_ONLY as everywhere — eviction recomputes by re-read
      val csets = s.read.format("vortex").load(s"$dir/sets")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      val cbands = s.read.format("vortex").load(s"$dir/bands")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      val bsets = docSetsDF(s, d, col("doc_id") % 7 === 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      // the verify core returns an eagerly-materialized cached frame,
      // so the index-read caches can be dropped immediately; the match
      // cache itself drops inside finishIncremental — no per-query
      // cache accumulation in the session CacheManager
      val matched = minhashNearDupVerify(s, csets, cbands, bsets, tau = 0.5)
      bsets.unpersist(false)
      csets.unpersist(false)
      cbands.unpersist(false)
      finishIncremental(s, matched)
    },
    incrementalOracle)

  // MinHash signatures, map-side: a document's tokens all live in its
  // own row, so the signature is one pass over the text — no
  // (doc, token) shuffle at all. The typed-Aggregator formulation
  // (partial+final merge) remains the API for genuinely token-streamed
  // inputs (Engine.minHashSignatures / MinHashAgg); tokenization here
  // matches the SQL split exactly so the oracle agrees per document.
  spark("d_minhash_sigs",
    (s, d) => {
      import s.implicits._
      val base = Tables.t(s, d, "documents").select(col("doc_id"), col("text"))
      // the hashing pass is compute-bound (16 md5s per distinct token):
      // when the scan yields fewer splits than cores (small files),
      // rebalance up to the session parallelism so every core hashes —
      // at scale splits >> cores and this is a no-op, no pinned plan
      val par = s.sparkContext.defaultParallelism
      val balanced =
        if (base.rdd.getNumPartitions < par) base.repartition(par) else base
      balanced.as[(Long, String)]
        .map { case (id, text) =>
          val k = 16
          val mh = new Array[Byte](k * 16)
          java.util.Arrays.fill(mh, 0xFF.toByte)
          // same token set as array_distinct(split(text, ' ')); the
          // dedup matters — hashing a repeated token is 16 wasted md5s
          val seen = new java.util.HashSet[String]()
          text.split(" ", -1).foreach(w =>
            if (seen.add(w)) Hashing.minhashUpdate(mh, k, w))
          (id, Array.tabulate(k)(i => Hashing.toHexAt(mh, i * 16)).mkString("|"))
        }
        .toDF("doc_id", "sig")
        .orderBy("doc_id")
    },
    s"""WITH tok AS ($tokSql),
       |ih AS (SELECT doc_id, i, md5(CAST(i AS VARCHAR) || ':' || w) AS h
       |       FROM tok CROSS JOIN range(0, 16) r(i)),
       |sig AS (SELECT doc_id, i, min(h) AS mh FROM ih GROUP BY doc_id, i)
       |SELECT doc_id, string_agg(mh, '|' ORDER BY i) AS sig
       |FROM sig GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  // SimHash: 64-bit signature from per-token md5 bits (majority vote per
  // bit; tie → 0). Output as a 64-char '0'/'1' string.
  // SimHash via the typed Aggregator: 64 ±1 votes per token taken
  // straight off the md5 bytes, partial+final merge — no ×64 explode,
  // no (doc, bit) shuffle (38M rows at sf0.1 under the old shape).
  spark("d_simhash",
    (s, d) => {
      import s.implicits._
      val agg = new graft.functions.SimHashAgg().toColumn
      tokens(s, d).as[(Long, String)]
        .groupByKey(_._1).mapValues(_._2).agg(agg.name("sim64"))
        .toDF("doc_id", "sim64")
        .orderBy("doc_id")
    },
    s"""WITH tok AS (SELECT doc_id, md5(w) AS h FROM ($tokSql) t),
       |bits AS (SELECT doc_id, b,
       |           CAST(floor((instr('0123456789abcdef', substr(h, CAST(b // 4 AS INTEGER) + 1, 1)) - 1)
       |                / power(2, 3 - b % 4)) AS BIGINT) % 2 AS bit
       |         FROM tok CROSS JOIN range(0, 64) r(b)),
       |votes AS (SELECT doc_id, b, sum(bit * 2 - 1) AS vote FROM bits GROUP BY doc_id, b)
       |SELECT doc_id, string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS sim64
       |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  // ---- benchmark decontamination (train/eval n-gram overlap) -----------

  /** Word n-grams of `textCol`, one output row per gram occurrence:
    * (idCol named as in `df` but LongType, gram). Tokenization is a
    * plain single-space split — the exact split the SQL oracle and the
    * other dedup kernels use. Docs shorter than n words emit nothing.
    *
    * A typed flatMap kernel, not a transform/slice/array_join
    * expression tree: one split and one StringBuilder per gram beats
    * the Catalyst array slicing 2× at sf1 (2.5 → 1.4 s for the 3.2M
    * gram materialization) and the per-doc shape stays embarrassingly
    * parallel. `idCol` must be integral (it rides as LongType). */
  private[graft] def wordGrams(df: DataFrame, idCol: String, textCol: String,
                               n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // null id/text rows emit no grams (the expression formulation's
    // size(null) >= n was false too) — filter BEFORE the typed map so
    // neither the Long decode nor split can hit a null
    df.where(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = text.split(" ", -1)
        (0 to toks.length - n).iterator.map { i =>
          val sb = new java.lang.StringBuilder
          var j = i
          while (j < i + n) {
            if (j > i) sb.append(' ')
            sb.append(toks(j))
            j += 1
          }
          (id, sb.toString)
        }
      }
      .toDF(idCol, "gram")
  }

  /** Train/eval contamination scan: corpus documents that contain any
    * word n-gram of the evaluation set (the overlap check run before
    * training so benchmark text is not memorized — the 13-gram variant
    * of Brown et al. 2020 §4; n is a parameter here). Returns
    * (idCol, n_hits = DISTINCT contaminated grams in the doc).
    *
    * 100 TB shape: eval sets are benchmark-sized (MBs, not TBs), so the
    * default plan broadcasts the DISTINCT eval grams and left-semi
    * probes the corpus gram stream map-side — the corpus is never
    * shuffled; the only exchange is the final per-doc count over the
    * matched rows (output-bound: contaminated docs only). For an eval
    * side too large to broadcast, `broadcastEval = false` switches to a
    * shuffled semi-join on the gram — both gram streams partition by
    * gram hash, still never materializing the corpus × eval product. */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame, idCol: String,
                    textCol: String, n: Int,
                    broadcastEval: Boolean = true): DataFrame = {
    val cg = wordGrams(corpus, idCol, textCol, n)
    val eg = wordGrams(evalSet, idCol, textCol, n).select("gram").distinct()
    val matched =
      if (broadcastEval) cg.join(broadcast(eg), Seq("gram"), "left_semi")
      else cg.join(eg.hint("SHUFFLE_HASH"), Seq("gram"), "left_semi")
    matched.groupBy(idCol).agg(countDistinct(col("gram")).as("n_hits"))
  }

  // Chunk-level exact substring dedup with document reconstruction —
  // the sub-document granularity of Lee et al. 2022 ("Deduplicating
  // Training Data Makes Language Models Better") restricted to aligned
  // 10-word chunks: a repeated chunk keeps only its FIRST occurrence
  // (lowest doc_id, then lowest offset) and every later copy is cut
  // out of its document; the output is each document's surviving text
  // plus kept/total chunk counts. Scale shape: chunking is a map-side
  // typed flatMap (no (doc,token) explode); winner election shuffles
  // chunks keyed on (md5, length) — the same 128-bit+length dedup
  // identity as t_curate, so only when the digest AND length collide
  // do two distinct chunks merge, and BOTH engines elect winners over
  // the identical key so even that case stays bit-equal; reconstruction
  // is one groupBy(doc_id). Two hash shuffles total, no driver state,
  // no all-pairs term anywhere.
  spark("d_chunk_dedup",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val chunks = Tables.t(s, d, "documents")
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val toks = text.split(" ", -1)
          Iterator.tabulate((toks.length - 1) / 10 + 1) { g =>
            val from = g * 10
            val until = math.min(from + 10, toks.length)
            val sb = new StringBuilder
            var i = from
            while (i < until) { if (i > from) sb.append(' '); sb.append(toks(i)); i += 1 }
            (id, g.toLong, sb.toString)
          }
        }
        .toDF("doc_id", "ord", "chunk")
      val w = Window.partitionBy(md5(col("chunk")), length(col("chunk")))
        .orderBy(col("doc_id"), col("ord"))
      chunks
        .withColumn("kept", row_number().over(w) === 1)
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_chunks"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          concat_ws(" ", expr(
            "transform(array_sort(collect_list(CASE WHEN kept THEN struct(ord, chunk) END)), x -> x.chunk)"))
            .as("new_text"))
        .orderBy("doc_id")
    },
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |ch AS (SELECT doc_id, g AS ord,
      |              array_to_string(toks[g*10+1:g*10+10], ' ') AS chunk
      |       FROM (SELECT doc_id, toks,
      |                    unnest(generate_series(0, (len(toks)-1)//10)) AS g
      |             FROM words)),
      |rk AS (SELECT doc_id, ord, chunk,
      |              row_number() OVER (PARTITION BY md5(chunk), length(chunk)
      |                                 ORDER BY doc_id, ord) AS rn
      |       FROM ch)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
      |       CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
      |       coalesce(string_agg(chunk, ' ' ORDER BY ord) FILTER (WHERE rn = 1), '') AS new_text
      |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  // Eval set = every 97th doc (deterministic, in-corpus, so the check
  // provably finds the planted overlap: each eval doc contaminates at
  // least itself). n = 5 keeps the gram space (vocab^5) selective on
  // the synthetic small-vocabulary corpus.
  spark("d_decontaminate",
    (s, d) => {
      val docs = Tables.t(s, d, "documents")
      decontaminate(docs, docs.where(col("doc_id") % 97 === 0),
          "doc_id", "text", n = 5)
        .orderBy("doc_id")
    },
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |grams AS (
      |  SELECT doc_id, array_to_string(toks[g:g+4], ' ') AS gram
      |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks)-4)) AS g FROM words)
      |),
      |eval_grams AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0)
      |SELECT doc_id, CAST(count(DISTINCT gram) AS BIGINT) AS n_hits
      |FROM grams WHERE gram IN (SELECT gram FROM eval_grams)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
