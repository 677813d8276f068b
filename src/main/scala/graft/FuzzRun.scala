package graft
import java.nio.file.{Files, Paths}

/** Spark half of the randomized differential-testing harness
  * (tools/fuzz_diff.py): read a {name: sql} JSON of generated ANSI
  * queries, run each over the registered parquet tables, dump one
  * parquet per query for the DuckDB compare. Mirrors Verify exactly
  * (same session config, same failure convention) so a fuzz mismatch
  * is attributable to the query semantics, not the harness.
  * Usage: runMain graft.FuzzRun <sfDir> <outDir> <queries.json>
  */
object FuzzRun {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, qfile) = (args(0), args(1), args(2))
    val spark = SparkEntry.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // extra generator-built tables (nested/decimal coverage):
    // GRAFT_FUZZ_EXTRA = "name=/abs/file.parquet,name2=..." — registered
    // like the standard tables in both modes
    // fail fast on malformed entries: a missing '=' or a dangling path
    // would otherwise surface as a bare MatchError / a silent
    // length-0-mtime-0 cache-key contribution (stale vortex copy)
    val extras: Seq[(String, String)] = sys.env.get("GRAFT_FUZZ_EXTRA").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        kv.split("=", 2) match {
          case Array(n, p) if n.nonEmpty && p.nonEmpty =>
            require(new java.io.File(p).isFile,
              s"GRAFT_FUZZ_EXTRA entry '$kv': file does not exist: $p")
            (n, p)
          case _ => throw new IllegalArgumentException(
            s"GRAFT_FUZZ_EXTRA entry '$kv' is not of the form name=/abs/file.parquet")
        }
      }
    if (sys.env.get("GRAFT_FUZZ_VORTEX").contains("1")) {
      // vortex-mode: every table view is a vortex COPY of the parquet
      // original, so random predicates/projections exercise the whole
      // write → manifest → scan → pushdown stack while DuckDB still
      // reads the parquet originals — a storage-level differential.
      // cache key = canonical path + every table file's (size, mtime):
      // distinct sf dirs never collide on a basename, and testdata
      // REGENERATED IN PLACE (the driver does this each round) gets a
      // fresh copy instead of silently diffing stale vortex data
      // against fresh parquet
      val sig = (Tables.names.map { n =>
        val f = new java.io.File(sfDir, s"$n.parquet")
        s"$n:${f.length}:${f.lastModified}"
      } ++ extras.map { case (n, p) =>
        val f = new java.io.File(p)
        s"$n:${f.length}:${f.lastModified}"
      }).mkString("|")
      // collision-resistant digest — a 32-bit hashCode can collide
      // across signature strings and silently reuse a stale copy
      val key = java.security.MessageDigest.getInstance("MD5")
        .digest((new java.io.File(sfDir).getCanonicalPath + "|" + sig).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val vroot = s"/tmp/fuzz_vortex_${new java.io.File(sfDir).getName}_$key"
      val srcs: Seq[(String, () => org.apache.spark.sql.DataFrame)] =
        Tables.names.map(n => (n, () => Tables.t(spark, sfDir, n))) ++
          extras.map { case (n, p) => (n, () => spark.read.parquet(p)) }
      srcs.foreach { case (n, src) =>
        val dir = new java.io.File(s"$vroot/$n")
        // a crashed first copy leaves the dir without a committed
        // manifest — repair by recopying instead of failing every
        // query forever
        val committed = Option(new java.io.File(dir, "_manifests").listFiles())
          .exists(_.exists(_.getName.endsWith(".json")))
        if (!committed) {
          if (dir.exists()) {
            def rm(f: java.io.File): Unit = {
              Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
            }
            rm(dir)
          }
          sources.vortex.VortexBulkCopy.copy(src(), dir.getPath)
        }
        spark.read.format("vortex").load(dir.getPath).createOrReplaceTempView(n)
      }
    } else {
      Tables.registerAll(spark, sfDir)
      extras.foreach { case (n, p) =>
        spark.read.parquet(p).createOrReplaceTempView(n) }
    }
    // tiny flat-JSON reader ({"k":"v",...}, values escaped by the
    // generator with json.dumps): no JSON library on the classpath.
    // Hand-rolled scanner — the prior regex (alternation inside a
    // quantifier) StackOverflowed the JVM regex engine on multi-kB
    // values (r13, the 5k-literal-IN fuzz kind's ~30 kB statements).
    val raw = Files.readString(Paths.get(qfile))
    def parseFlat(s: String): Seq[(String, String)] = {
      val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
      var i = 0
      def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
      def str(): String = { // returns the ESCAPED body (unesc below)
        require(s.charAt(i) == '"', s"expected string at $i"); i += 1
        val b = new StringBuilder
        while (s.charAt(i) != '"') {
          if (s.charAt(i) == '\\') { b.append(s.charAt(i)).append(s.charAt(i + 1)); i += 2 }
          else { b.append(s.charAt(i)); i += 1 }
        }
        i += 1; b.toString
      }
      ws(); if (i < s.length && s.charAt(i) == '{') i += 1
      var done = false
      while (!done) {
        ws()
        if (i >= s.length || s.charAt(i) == '}') done = true
        else if (s.charAt(i) == ',') i += 1
        else {
          val k = str(); ws(); require(s.charAt(i) == ':', s"expected : at $i"); i += 1; ws()
          val v = str()
          out += ((k, v))
        }
      }
      out.toSeq
    }
    def unesc(s: String): String = {
      val b = new StringBuilder; var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case 'n' => b.append('\n'); i += 2
            case 't' => b.append('\t'); i += 2
            case 'r' => b.append('\r'); i += 2
            case 'u' => b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
            case o   => b.append(o); i += 2
          }
        } else { b.append(c); i += 1 }
      }
      b.toString
    }
    parseFlat(raw).foreach { case (rawName, rawSql) =>
      val (name, sql) = (unesc(rawName), unesc(rawSql))
      try {
        val df =
          if (sql.startsWith(MaintPrefix)) runMaintenance(spark, sfDir, extras, sql)
          else spark.sql(sql)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case scala.util.control.NonFatal(e) =>
        // fatal JVM errors (OOM, linkage) must kill the run — a JVM in
        // an undefined state would misattribute every later query
        System.err.println(s"[fuzz] $name failed: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    }
    spark.stop()
  }

  /** Maintenance-mode differential (tools/fuzz_diff.py --maintenance):
    * the query text is a tiny line-oriented DSL instead of one SELECT —
    * stage a FRESH vortex copy of a table, apply a random sequence of
    * DELETE (rewrite or deletion-vector tier) / UPDATE / foldMasks /
    * compact, then read the mutated dataset back. DuckDB runs the
    * logical twin (temp table + DELETE/UPDATE + SELECT), so the hash
    * compare proves the whole mutate→manifest→mask→scan stack
    * preserves SQL semantics under random predicates.
    *
    * Format (lines):  --GRAFT-MAINT--
    *                  table=<name>
    *                  op=del|dvdel|update  <predicate sql> [ col:=expr;col2:=expr2]
    *                  op=fold | op=compact
    *                  op=race            (the next TWO op lines run from two
    *                                      threads; the maintenance lease
    *                                      serializes them — the loser retries
    *                                      until it wins, so the generator must
    *                                      emit a COMMUTING pair, e.g. two
    *                                      DELETEs)
    *                  op=txn N commit|crash  (the next N op lines run inside
    *                                      one Engine.withTransaction; crash =
    *                                      hard death before close, rolled back
    *                                      by the NEXT op's lock acquisition)
    *                  timetravel=1       (commit-log generations + retirement)
    *                  readversion=N      (read back `versionAsOf N`)
    *                  select=<sql over view maintv>
    */
  private val MaintPrefix = "--GRAFT-MAINT--"
  private val MaintSep = "\u0001"

  private def runMaintenance(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                             extras: Seq[(String, String)], dsl: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.expr
    val lines = dsl.split("\n").toSeq.map(_.trim).filter(_.nonEmpty).drop(1)
    val table = lines.collectFirst { case l if l.startsWith("table=") => l.stripPrefix("table=") }.get
    val select = lines.collectFirst { case l if l.startsWith("select=") => l.stripPrefix("select=") }.get
    val src = extras.collectFirst { case (n, p) if n == table => spark.read.parquet(p) }
      .getOrElse(Tables.t(spark, sfDir, table))
    val dir = java.nio.file.Files.createTempDirectory("fuzz_maint").toString
    try {
      // optional Hive-partitioned staging (r11): the same op sequences
      // then exercise partition-dir pruning, the partition guards, the
      // layout-aware merge insert half, and partitioned streaming
      lines.collectFirst { case l if l.startsWith("partby=") =>
        l.stripPrefix("partby=") } match {
        case Some(c) => src.write.format("vortex").option("partitionBy", c)
          .mode("overwrite").save(dir)
        case None => sources.vortex.VortexBulkCopy.copy(src, dir)
      }
      // `maintbase` = the UNMUTATED original (merge sources derive
      // from it, mirroring the twin's derivation from the raw table)
      src.createOrReplaceTempView("maintbase")
      var streamRead = false
      val timeTravel = lines.contains("timetravel=1")
      val prevTT = spark.conf.getOption(sources.vortex.VortexCommitLog.ConfKey)
      if (timeTravel)
        spark.conf.set(sources.vortex.VortexCommitLog.ConfKey, "true")
      try {
      def runOp(l: String): Unit = {
        val parts = l.stripPrefix("op=").split(MaintSep).map(_.trim)
        parts(0) match {
          case "del" =>
            sources.vortex.VortexDelete.delete(spark, dir, expr(parts(1)))
          case "dvdel" =>
            sources.vortex.VortexDelete.delete(spark, dir, expr(parts(1)),
              deletionVectors = true)
          case "update" | "dvupdate" =>
            val sets = parts(2).split(";").map { kv =>
              val Array(c, e) = kv.split(":=", 2); c.trim -> expr(e.trim)
            }.toMap
            sources.vortex.VortexUpdate.update(spark, dir, sets, expr(parts(1)),
              deletionVectors = parts(0) == "dvupdate")
          case "sql" =>
            // a full UPDATE/DELETE/MERGE statement (plans/VortexDmlRules);
            // __DIR__ substitutes the staged dataset path
            graft.plans.RewriteVortexDml.install(spark)
            spark.conf.set("spark.sql.catalog.vtx",
              "graft.sources.vortex.VortexCatalog")
            spark.sql(parts(1).replace("__DIR__", dir))
            ()
          case "append" =>
            // plain append of maintbase rows matching the predicate —
            // commit-atomic per file, no lease; inside a transaction
            // group it joins the group's fate (FORMAT.md contract
            // bound: a rollback removes it)
            val w = spark.table("maintbase").where(expr(parts(1)))
              .write.format("vortex").mode("append")
            lines.collectFirst { case pl if pl.startsWith("partby=") =>
              pl.stripPrefix("partby=") } match {
              case Some(c) => w.option("partitionBy", c).save(dir)
              case None => w.save(dir)
            }
          case "fold" =>
            sources.vortex.VortexMaintenance.foldMasks(spark, dir)
          case "expire" =>
            sources.vortex.VortexMaintenance.expireVersions(spark, dir, 1)
          case "compact" =>
            sources.vortex.VortexMaintenance.compact(spark, dir, minFiles = 2)
          case "stream" =>
            streamRead = true // the read-back goes through the micro-batch source
          case other => sys.error(s"fuzz maintenance: unknown op $other")
        }
      }
      val opLines = lines.filter(_.startsWith("op=")).toIndexedSeq
      var oi = 0
      while (oi < opLines.length) {
        val l = opLines(oi)
        if (l.stripPrefix("op=").split(MaintSep)(0).trim == "txn") {
          // transaction group (r13): the next N op lines run inside ONE
          // Engine.withTransaction over the staged dataset. mode=commit
          // publishes them as one generation; mode=crash simulates a
          // hard process death after the body — the next op (the
          // generator always emits one) triggers rollback, so the
          // group's statements must leave NO trace in the final state
          // (the DuckDB twin omits them).
          val parts = l.stripPrefix("op=").split(MaintSep).map(_.trim)
          val n = parts(1).toInt
          val mode = parts(2)
          val inner = opLines.slice(oi + 1, oi + 1 + n); oi += 1 + n
          if (mode == "sqlcommit" || mode == "sqlrollback") {
            // the SQL statement surface (r14): BEGIN parks the group
            // thread-locally between spark.sql calls; the inner ops
            // join it through the held-lease registry exactly like a
            // withTransaction body. sqlrollback's twin omits the inner
            // ops — the explicit ROLLBACK must leave no trace.
            graft.plans.RewriteVortexDml.install(spark)
            spark.sql(s"BEGIN VORTEX TRANSACTION ON '$dir'")
            try inner.foreach(runOp)
            catch { case t: Throwable =>
              spark.sql("ROLLBACK VORTEX TRANSACTION"); throw t }
            spark.sql(if (mode == "sqlcommit") "COMMIT VORTEX TRANSACTION"
                      else "ROLLBACK VORTEX TRANSACTION")
          } else {
            if (mode == "crash")
              sources.vortex.VortexTransaction.crashBeforeCloseForTest = true
            sources.vortex.VortexTransaction.run(spark, Seq(dir)) {
              inner.foreach(runOp)
            }
          }
        } else if (l.stripPrefix("op=").split(MaintSep)(0).trim == "race" ||
                   l.stripPrefix("op=").split(MaintSep)(0).trim == "race3") {
          // concurrent-maintenance differential (r12; r13 adds the
          // 3-way form): the next 2 (race) or 3 (race3) ops race on the
          // dataset lease from that many threads; a loser fails with
          // ConcurrentMaintenanceException and retries until it wins.
          // The generator emits COMMUTING sets (DELETEs, compact,
          // expire — row-state-preserving or row-commuting), so the
          // serialized final state is order-independent and the DuckDB
          // twin (the row-mutating ops, any order) stays exact.
          val n = if (l.stripPrefix("op=").split(MaintSep)(0).trim == "race3") 3 else 2
          val pair = (1 to n).map(k => opLines(oi + k)); oi += 1 + n
          val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
          val raced = new java.util.concurrent.atomic.AtomicInteger(0)
          val ths = pair.map { ol =>
            new Thread(() => {
              var done = false
              var tries = 0
              while (!done) {
                try { runOp(ol); done = true }
                catch {
                  case _: sources.vortex.ConcurrentMaintenanceException
                      if tries < 600 =>
                    raced.incrementAndGet(); tries += 1; Thread.sleep(20)
                  case t: Throwable => errs.add(t); done = true
                }
              }
            })
          }
          ths.foreach(_.start()); ths.foreach(_.join())
          if (!errs.isEmpty) throw errs.peek()
        } else if (l.stripPrefix("op=").split(MaintSep)(0).trim == "txnrace") {
          // SQL-transaction race (r15; VERDICT r14 next #6): TWO threads
          // each drive a FULL SQL transaction — BEGIN VORTEX TRANSACTION
          // on the same dataset, their op block, then COMMIT / ROLLBACK /
          // a simulated hard crash. The dataset lease serializes the
          // groups: the loser's BEGIN fails loudly with
          // ConcurrentMaintenanceException and retries until it wins, so
          // the outcome is one of the two serial orders. The generator
          // emits COMMUTING blocks (deletes), so both orders agree and
          // the DuckDB twin (committed blocks only, any order) is exact.
          // A crashed group's recovery rides the NEXT writer's lock
          // acquisition — the other thread's BEGIN retry, or the
          // follow-up op the generator always appends.
          val parts = l.stripPrefix("op=").split(MaintSep).map(_.trim)
          val (n1, m1, n2, m2) = (parts(1).toInt, parts(2), parts(3).toInt, parts(4))
          val inner1 = opLines.slice(oi + 1, oi + 1 + n1)
          val inner2 = opLines.slice(oi + 1 + n1, oi + 1 + n1 + n2)
          oi += 1 + n1 + n2
          graft.plans.RewriteVortexDml.install(spark)
          def isCme(x: Throwable): Boolean = x != null &&
            (x.isInstanceOf[sources.vortex.ConcurrentMaintenanceException] ||
             isCme(x.getCause))
          val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
          def txnThread(inner: Seq[String], mode: String): Thread =
            new Thread(() => {
              var done = false
              var tries = 0
              while (!done) {
                try {
                  spark.sql(s"BEGIN VORTEX TRANSACTION ON '$dir'")
                  try {
                    inner.foreach(runOp)
                    mode match {
                      case "commit" => spark.sql("COMMIT VORTEX TRANSACTION")
                      case "rollback" => spark.sql("ROLLBACK VORTEX TRANSACTION")
                      case "crash" =>
                        // hard process death after the body: leases drop,
                        // markers stay — the next writer must roll back
                        sources.vortex.VortexTransaction.simulateCrashForTest()
                    }
                  } catch { case t: Throwable =>
                    if (mode != "crash")
                      try spark.sql("ROLLBACK VORTEX TRANSACTION")
                      catch { case s: Throwable => t.addSuppressed(s) }
                    throw t
                  }
                  done = true
                } catch {
                  case t: Throwable if isCme(t) && tries < 600 =>
                    tries += 1; Thread.sleep(20)
                  case t: Throwable => errs.add(t); done = true
                }
              }
            })
          val ths = Seq(txnThread(inner1, m1), txnThread(inner2, m2))
          ths.foreach(_.start()); ths.foreach(_.join())
          if (!errs.isEmpty) throw errs.peek()
        } else { runOp(l); oi += 1 }
      }
      // explicit schema: a delete can legitimately empty the dataset,
      // and schema inference over zero files has nothing to infer
      var streamQn: Option[String] = None
      var streamCkpt: Option[String] = None
      if (streamRead) {
        // masked/maintained dataset through VortexMicroBatchStream:
        // stream read-back must equal the twin (r11 — the r10 VERDICT
        // silent-resurrection hole, now mask-aware)
        val ckpt = java.nio.file.Files.createTempDirectory("fuzz_maint_ck").toString
        val qn = s"fuzz_stream_${java.util.UUID.randomUUID().toString.take(8)}"
        streamQn = Some(qn); streamCkpt = Some(ckpt)
        val q = spark.readStream.format("vortex").schema(src.schema).load(dir)
          .writeStream.format("memory").queryName(qn)
          .option("checkpointLocation", ckpt).outputMode("append").start()
        try { q.processAllAvailable() } finally q.stop()
        spark.table(qn).createOrReplaceTempView("maintv")
      } else {
        // readversion=N pins the read-back to commit-log generation N
        // (r12): gen 0 is the genesis (pre-any-op) snapshot, so its
        // twin is the UNMUTATED table — the resolve path must
        // reconstruct it from retired files across any op sequence
        val readVersion = lines.collectFirst {
          case l if l.startsWith("readversion=") =>
            l.stripPrefix("readversion=") }
        var rd = spark.read.format("vortex").schema(src.schema)
        readVersion.foreach(v => rd = rd.option("versionAsOf", v))
        rd.load(dir).createOrReplaceTempView("maintv")
      }
      // materialize BEFORE the staging dir is deleted
      val rows = spark.sql(select).collect()
      val schema = spark.sql(select).schema
      // release the memory-sink table + its checkpoint NOW — a fuzz
      // wave runs thousands of cases in one JVM (review-found r11)
      streamQn.foreach(spark.catalog.dropTempView(_))
      streamCkpt.foreach { c =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(new java.io.File(c))
      }
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      } finally {
        // restore the session's time-travel switch (fuzz cases share
        // one session; a leaked `true` would silently change every
        // later case's maintenance behavior)
        prevTT match {
          case Some(v) => spark.conf.set(sources.vortex.VortexCommitLog.ConfKey, v)
          case None => spark.conf.unset(sources.vortex.VortexCommitLog.ConfKey)
        }
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }
}
