package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Optimization-round phase profiler: re-runs selected heavy bench rows
  * with per-PHASE wall timers so the cost inside a composed operator is
  * attributable (guide §1: measure first — the bench only reports the
  * total). Mirrors Bench's environment contract (SPARK_GRAFT_SF_DIR /
  * SPARK_GRAFT_CPUS) and its noop-sink forcing. Tool-side only; never a
  * declared query, never part of the bench artifact.
  *
  * Usage: runMain graft.ProfileOpt [near|curate|crawl|e2e|semdd] ...
  */
object ProfileOpt {

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private var t0 = System.nanoTime()
  private def phase(name: String)(f: => Unit): Unit = {
    val s = System.nanoTime()
    f
    println(f"[phase] $name%-40s ${(System.nanoTime() - s) / 1e9}%8.3f s")
  }
  private def header(name: String): Unit = {
    println(s"\n==== $name ====")
    t0 = System.nanoTime()
  }
  private def footer(): Unit =
    println(f"[total] ${(System.nanoTime() - t0) / 1e9}%8.3f s")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val which = if (args.isEmpty) Set("near", "crawl") else args.toSet

    // per-JOB wall breakdown: callsite + duration, so a composed
    // operator's cost is attributable job by job
    if (which("jobs")) {
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val site = js.stageInfos.map(si => si.name.takeWhile(_ != ' '))
            .groupBy(identity).map { case (n, g) => s"$n*${g.size}" }
            .mkString(",") + " | " +
            js.stageInfos.lastOption.map(_.details.linesIterator
              .filterNot(_.contains("org.apache.spark"))
              .filterNot(_.contains("java.")).take(2).mkString(" <- "))
              .getOrElse("?")
          starts.put(js.jobId, (System.nanoTime(), site))
        }
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(starts.remove(je.jobId)).foreach { case (s, site) =>
            println(f"[job] ${je.jobId}%4d ${(System.nanoTime() - s) / 1e9}%8.3f s  $site")
          }
        }
      })
    }

    // warm-up (mirrors Bench)
    graft.sources.Tables.read(spark, sfDir, "region").count()
    SparkEntry.queries.get("q6_selective").foreach(fn => force(fn(spark, sfDir)))

    val docsBase = graft.sources.Tables.read(spark, sfDir, "documents")

    if (which("near")) {
      // mirror Bench's neardedup_trigger_1x: 1024-bucket catalog, 25-doc
      // batch, inFilterThreshold raised like the bench does
      val tmp = java.nio.file.Files.createTempDirectory("graft-prof-near").toString
      val NearBuckets = 1024
      val sigs = graft.dedup.Dedup.minhashNearCatalog(
        docsBase.select(col("doc_id"), col("text")), "doc_id", "text",
        5, 16, 4).cache()
      sigs.count()
      val hc = spark.sparkContext.hadoopConfiguration
      hc.setInt("parquet.block.size", 64 * 1024)
      hc.setInt("parquet.page.size", 16 * 1024)
      graft.dedup.BandedCatalog.append(sigs, s"$tmp/near1x", numBuckets = NearBuckets)
      hc.unset("parquet.block.size"); hc.unset("parquet.page.size")
      sigs.unpersist()
      spark.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", "4096")

      var repC = 0
      def freshNearBatch(): DataFrame = {
        repC += 1
        docsBase.limit(25).select(
          (col("doc_id") + lit(repC * 50000000L)).as("doc_id"),
          concat(col("text"), lit(s" uniq$repC")).as("text"))
      }
      // warm one full trigger first
      graft.streaming.StreamingNearDedup.applyBatch(
        freshNearBatch(), s"$tmp/near1x", "doc_id", "text",
        numBuckets = NearBuckets, added = repC.toLong, deliver = d => force(d))

      (1 to 2).foreach { _ =>
        header("neardedup_trigger_1x phases")
        val batch = freshNearBatch()
        val m = graft.dedup.BandedCatalog.readMeta(spark, s"$tmp/near1x").get
        var docs: DataFrame = null
        var sigsB: DataFrame = null
        var catalog: DataFrame = null
        var survivors: DataFrame = null
        phase("pin(docs)") {
          docs = graft.ops.Checkpoints.pin(batch.select(col("doc_id"), col("text")))
        }
        phase("pin(minhash sigs)") {
          sigsB = graft.ops.Checkpoints.pin(graft.dedup.Dedup.minhashNearCatalog(
            docs, "doc_id", "text", m.shingleSize, m.bands, m.rowsPerBand))
        }
        phase("relation creation (file listing)") {
          val _ = spark.read.parquet(s"$tmp/near1x").schema
        }
        phase("readForBatch (collect keys)") {
          val probe = graft.dedup.BandedCatalog.bandRows(
            sigsB, m.bands, m.rowsPerBand, m.numBuckets, 0L)
          catalog = graft.dedup.BandedCatalog.readForBatch(
            spark, s"$tmp/near1x", probe)
        }
        phase("pruned catalog scan (count)") {
          val _ = catalog.count()
        }
        phase("dedupNearIncrementalBanded + pin") {
          survivors = graft.ops.Checkpoints.pin(
            graft.dedup.Dedup.dedupNearIncrementalBanded(
              docs, catalog, "doc_id", "text",
              m.shingleSize, m.bands, m.rowsPerBand, 0.7, newSigs = Some(sigsB)))
        }
        phase("deliver (noop force)") { force(survivors) }
        phase("append") {
          graft.dedup.BandedCatalog.append(
            sigsB.join(survivors.select(col("doc_id").as("id")), Seq("id"), "left_semi"),
            s"$tmp/near1x", m.bands, m.rowsPerBand, m.numBuckets, m.shingleSize,
            repC.toLong)
        }
        phase("bucketFileCounts (hygiene)") {
          val _ = graft.dedup.BandedCatalog.bucketFileCounts(spark, s"$tmp/near1x")
        }
        footer()
      }
      SparkEntry.deleteRecursively(new java.io.File(tmp))
    }

    if (which("vid")) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-prof-vid").toString
      val vid1x = s"$tmp/vid1x"
      def videoCatalogEntries(n: Long, root: String): Unit = {
        val ids = spark.range(0, n)
        graft.dedup.ExactCatalog.append(
          ids.select(xxhash64(col("id")).as("fp"), lit(4L).as("h2")),
          graft.dedup.VideoCatalog.cntDir(root),
          kind = graft.dedup.VideoCatalog.cntKind(4))
        graft.dedup.ExactCatalog.append(
          ids.select(col("id"), explode(sequence(lit(0), lit(3))).as("k"))
            .select(graft.dedup.VideoCatalog.frameFp(
              xxhash64(col("id")), col("k")).as("fp"),
              xxhash64(col("id"), col("k")).as("h2")),
          graft.dedup.VideoCatalog.sigDir(root),
          kind = graft.dedup.VideoCatalog.sigKind(4))
        graft.dedup.ExactCatalog.append(
          ids.select(explode(graft.dedup.ImageDedup.quarterKeys(
            xxhash64(col("id"), lit(0)))).as("fp"),
            xxhash64(col("id")).as("h2")),
          graft.dedup.VideoCatalog.blockDir(root),
          kind = graft.dedup.VideoCatalog.blockKind(4))
      }
      videoCatalogEntries(100000L, vid1x)
      var repC = 0
      def freshVideoBatch(): DataFrame = {
        repC += 1
        spark.range(0, 12).select(
          (col("id") + lit(repC * 50000000L)).as("doc_id"),
          GraftFunctions.syntheticAvi(
            col("id") + lit(repC * 50000000L), lit(0)).as("vid"))
      }
      // warm one trigger
      graft.streaming.StreamingVideoDedup.applyBatch(
        freshVideoBatch(), vid1x, "doc_id", "vid",
        added = repC.toLong, deliver = d => force(d))
      (1 to 3).foreach { _ =>
        header("video_trigger_1x")
        phase("applyBatch") {
          val _ = graft.streaming.StreamingVideoDedup.applyBatch(
            freshVideoBatch(), vid1x, "doc_id", "vid",
            added = repC.toLong, deliver = d => force(d))
        }
        footer()
      }
      SparkEntry.deleteRecursively(new java.io.File(tmp))
    }

    if (which("substrovf")) {
      // mirror Bench's substr_trigger_ovf_10x: 1024-bucket window-fp
      // catalog at 10x mass, 20-doc batch, forced key cap of 64
      val tmp = java.nio.file.Files.createTempDirectory("graft-prof-sovf").toString
      val NearBuckets = 1024
      val dir = s"$tmp/substr10x"
      val subEntries = graft.dedup.SubstrCatalog.entriesOf(
        docsBase, "text", SparkEntry.SubstrDedupW).cache()
      val subN = subEntries.count()
      val subCopies = math.max(1, (100000L / math.max(subN, 1L)).toInt)
      val subAmplified = spark.range(0, subCopies * 10).toDF("__rep")
        .crossJoin(subEntries)
        .select((col("fp") + col("__rep") * 1000003L).as("fp"),
          (col("fp") + col("__rep") * 1000003L).as("h2"))
      locally { // bench parity: small row groups so skipping is real
        val hc = spark.sparkContext.hadoopConfiguration
        hc.setInt("parquet.block.size", 64 * 1024)
        hc.setInt("parquet.page.size", 16 * 1024)
        try graft.dedup.SubstrCatalog.append(
          subAmplified, dir, SparkEntry.SubstrDedupW, numBuckets = NearBuckets)
        finally { hc.unset("parquet.block.size"); hc.unset("parquet.page.size") }
      }
      var repC = 0
      def freshBatch(): DataFrame = {
        repC += 1
        val filler = (1 to 24).map(j => s"v$repC$j").mkString(" ")
        docsBase.limit(20).select(
          (col("doc_id") + lit(repC * 50000000L)).as("doc_id"),
          concat(col("text"), lit(s" $filler")).as("text"))
      }
      // warm one trigger
      graft.dedup.SubstrCatalog.applyBatch(
        freshBatch(), dir, "doc_id", "text", SparkEntry.SubstrDedupW,
        numBuckets = NearBuckets, added = repC.toLong,
        maxPushdownKeys = 64, deliver = d => force(d))
      if (which("listab")) {
        // interleaved A/B on the parallel partition-discovery threshold:
        // A = default 32 (listing via Spark job), B = driver-side listing
        val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
        val times = collection.mutable.Map("A" -> List.empty[Double],
          "B" -> List.empty[Double])
        (1 to 10).foreach { i =>
          val tag = if (i % 2 == 1) "A" else "B"
          spark.conf.set(key, if (tag == "A") "32" else "100000")
          val s = System.nanoTime()
          val _ = graft.dedup.SubstrCatalog.applyBatch(
            freshBatch(), dir, "doc_id", "text", SparkEntry.SubstrDedupW,
            numBuckets = NearBuckets, added = repC.toLong,
            maxPushdownKeys = 64, deliver = d => force(d))
          val dt = (System.nanoTime() - s) / 1e9
          times(tag) = times(tag) :+ dt
          println(f"[ab] $tag $dt%8.3f s")
        }
        spark.conf.set(key, "32")
        times.foreach { case (t, xs) =>
          println(f"[ab-summary] $t min=${xs.min}%.3f median=${xs.sorted.apply((xs.size - 1) / 2)}%.3f") }
      } else (1 to 3).foreach { _ =>
        header("substr_trigger_ovf_10x")
        phase("applyBatch") {
          val _ = graft.dedup.SubstrCatalog.applyBatch(
            freshBatch(), dir, "doc_id", "text", SparkEntry.SubstrDedupW,
            numBuckets = NearBuckets, added = repC.toLong,
            maxPushdownKeys = 64, deliver = d => force(d))
        }
        footer()
      }
      SparkEntry.deleteRecursively(new java.io.File(tmp))
    }

    if (which("q")) {
      // run a declared query verbatim (bench shape) with the job listener
      args.filter(SparkEntry.queries.contains).foreach { name =>
        (1 to 2).foreach { _ =>
          header(s"query $name (verbatim)")
          phase(name) { force(SparkEntry.queries(name)(spark, sfDir)) }
          footer()
        }
      }
    }

    if (which("crawl2")) {
      // finer split of crawl_to_shards' curate phase: parse vs tiers
      (1 to 2).foreach { _ =>
        header("crawl_to_shards fine phases")
        val d = docsBase.select(col("doc_id"), col("text"))
        val prior = d.filter(col("doc_id") % 3 === 0)
          .withColumn("text", regexp_replace(trim(col("text")), "\\s+", " "))
        val root = java.nio.file.Files.createTempDirectory("graft-prof-crawl2")
        val tmp = root.toString
        phase("3 catalog builds") {
          graft.dedup.ExactCatalog.append(
            graft.dedup.ExactCatalog.entriesOf(
              graft.dedup.Dedup.dedupExact(prior, "doc_id", "text"), "text"),
            s"$tmp/exact")
          graft.dedup.BandedCatalog.append(
            graft.dedup.Dedup.minhashNearCatalog(prior, "doc_id", "text"),
            s"$tmp/near")
          graft.dedup.SubstrCatalog.append(
            graft.dedup.SubstrCatalog.entriesOf(prior, "text", SparkEntry.SubstrDedupW),
            s"$tmp/substr", SparkEntry.SubstrDedupW)
        }
        var batch: DataFrame = null
        phase("warc synth+parse+extract (pin)") {
          val page = SparkEntry.chromeFixturePage
          batch = graft.ops.Checkpoints.pin(
            d.filter(col("doc_id") % 3 =!= 0)
              .select(GraftFunctions.syntheticWarc(
                col("doc_id"), (col("doc_id") % 2).cast("int"), page).as("seg"))
              .select(explode(GraftFunctions.warcRecords(col("seg"))).as("r"))
              .filter(col("r.rec_type") === "response")
              .select(col("r.url").as("url"),
                GraftFunctions.httpResponse(col("r.block")).as("h"))
              .select(
                regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
                graft.text.Html.extractMainText(col("h.body").cast("string")).as("text"))
              .filter(GraftFunctions.tokenCountWs(col("text")) >= 5))
        }
        var exactSurv: DataFrame = null
        var nearSurv: DataFrame = null
        var out: DataFrame = null
        phase("exact tier") {
          val _ = graft.streaming.StreamingExactDedup.applyBatch(
            batch, s"$tmp/exact", "doc_id", "text", added = 1L,
            deliver = s => exactSurv = s)
        }
        phase("near tier") {
          val _ = graft.streaming.StreamingNearDedup.applyBatch(
            exactSurv, s"$tmp/near", "doc_id", "text",
            jaccardThreshold = 0.8, added = 1L,
            deliver = s => nearSurv = s)
        }
        phase("substr tier") {
          out = graft.streaming.StreamingSubstrDedup.applyBatch(
            nearSurv.select(col("doc_id"), col("text")),
            s"$tmp/substr", "doc_id", "text", SparkEntry.SubstrDedupW,
            added = 1L).filter(col("n_tokens") > 0)
        }
        phase("sample + packPlanSharded + force") {
          val sampled = out.filter(
            pmod(GraftFunctions.fingerprint64(col("clean_text")), lit(1000L)) < 800)
          force(graft.text.Packing.packPlanSharded(
            sampled.withColumn("source", lit("crawl")),
            "doc_id", "clean_text", "source", tokenBudget = 256, nShards = 4,
            shardBy = Some(pmod(
              GraftFunctions.fingerprint64(col("clean_text")), lit(4L)))))
        }
        footer()
        SparkEntry.deleteRecursively(root.toFile)
      }
    }

    if (which("crawl")) {
      (1 to 2).foreach { _ =>
        header("crawl_to_shards phases")
        val d = docsBase.select(col("doc_id"), col("text"))
        val prior = d.filter(col("doc_id") % 3 === 0)
          .withColumn("text", regexp_replace(trim(col("text")), "\\s+", " "))
        val root = java.nio.file.Files.createTempDirectory("graft-prof-crawl")
        val tmp = root.toString
        phase("exact catalog build") {
          graft.dedup.ExactCatalog.append(
            graft.dedup.ExactCatalog.entriesOf(
              graft.dedup.Dedup.dedupExact(prior, "doc_id", "text"), "text"),
            s"$tmp/exact")
        }
        phase("near catalog build") {
          graft.dedup.BandedCatalog.append(
            graft.dedup.Dedup.minhashNearCatalog(prior, "doc_id", "text"),
            s"$tmp/near")
        }
        phase("substr catalog build") {
          graft.dedup.SubstrCatalog.append(
            graft.dedup.SubstrCatalog.entriesOf(prior, "text", SparkEntry.SubstrDedupW),
            s"$tmp/substr", SparkEntry.SubstrDedupW)
        }
        var curated: DataFrame = null
        phase("warc synth+parse+extract+curate 3-tier") {
          val page = SparkEntry.chromeFixturePage
          val batch = d.filter(col("doc_id") % 3 =!= 0)
            .select(GraftFunctions.syntheticWarc(
              col("doc_id"), (col("doc_id") % 2).cast("int"), page).as("seg"))
            .select(explode(GraftFunctions.warcRecords(col("seg"))).as("r"))
            .filter(col("r.rec_type") === "response")
            .select(col("r.url").as("url"),
              GraftFunctions.httpResponse(col("r.block")).as("h"))
            .select(
              regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
              graft.text.Html.extractMainText(col("h.body").cast("string")).as("text"))
            .filter(GraftFunctions.tokenCountWs(col("text")) >= 5)
          curated = graft.streaming.StreamingCurate.applyBatch(
            batch,
            graft.streaming.StreamingCurate.CurateConfig(
              s"$tmp/exact", s"$tmp/near", s"$tmp/substr",
              "doc_id", "text", SparkEntry.SubstrDedupW, jaccardThreshold = 0.8),
            added = 1L)
            .filter(col("n_tokens") > 0)
        }
        phase("sample + packPlanSharded + force") {
          val sampled = curated.filter(
            pmod(GraftFunctions.fingerprint64(col("clean_text")), lit(1000L)) < 800)
          force(graft.text.Packing.packPlanSharded(
            sampled.withColumn("source", lit("crawl")),
            "doc_id", "clean_text", "source", tokenBudget = 256, nShards = 4,
            shardBy = Some(pmod(
              GraftFunctions.fingerprint64(col("clean_text")), lit(4L)))))
        }
        footer()
        SparkEntry.deleteRecursively(root.toFile)
      }
    }

    spark.stop()
  }
}
