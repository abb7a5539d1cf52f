package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.streaming.StreamingCurate

/** One generated micro-batch and what the text tiers must deliver from it:
  * the surviving ids, and for each survivor the boilerplate span that
  * must be scrubbed from its text (`None` = delivered unchanged). */
final case class CurateBatch(docs: Seq[(Long, String)], survivors: Map[Long, Option[String]],
    redelivery: Boolean)

/** Seeded text corpus for the curation stream: a prior corpus that seeds
  * the catalogs, and micro-batches mixing fresh docs, docs carrying a
  * boilerplate span from the prior corpus, exact repeats and near
  * duplicates (one or two words changed, Jaccard far above 0.7) of docs
  * the catalogs already hold, and redeliveries of the previous batch. */
final class CurateGen(seed: Long, priorDocs: Int, batchDocs: Int, redeliverEvery: Int) {
  private val rng = new Random(seed ^ 0x5DEECE66DL)
  private val vocab = Vector.fill(20000)(PgGen.word(rng))
  private def words(n: Int): Vector[String] = Vector.fill(n)(vocab(rng.nextInt(vocab.size)))
  private var nextId = 1L
  private def id(): Long = { nextId += 1; nextId }

  /** Boilerplate spans (16 words, twice the substring window). */
  val boilerplate: Vector[String] = Vector.fill(12)(words(16).mkString(" "))

  private def withSpan(ws: Vector[String], span: String): String = {
    val at = rng.nextInt(ws.size + 1)
    (ws.take(at) ++ Vector(span) ++ ws.drop(at)).mkString(" ")
  }

  /** Texts the catalogs hold (exact-repeat sources) and word vectors of
    * catalogued docs without boilerplate (near-duplicate sources). */
  private val catalogued = ArrayBuffer.empty[String]
  private val nearSources = ArrayBuffer.empty[Vector[String]]

  val prior: Seq[(Long, String)] = (1 to priorDocs).map { i =>
    val ws = words(50 + rng.nextInt(40))
    val text = if (i % 3 == 0) withSpan(ws, boilerplate(rng.nextInt(boilerplate.size))) else {
      nearSources += ws; ws.mkString(" ")
    }
    catalogued += text
    (id(), text)
  }

  private var previous: Option[CurateBatch] = None
  private var index = 0

  def next(): CurateBatch = {
    index += 1
    val b = previous match {
      case Some(p) if index % redeliverEvery == 0 =>
        CurateBatch(p.docs, Map.empty, redelivery = true) // at-least-once replay: all already seen
      case _ =>
        val docs = ArrayBuffer.empty[(Long, String)]
        val surv = mutable.Map.empty[Long, Option[String]]
        val fresh = ArrayBuffer.empty[(String, Vector[String], Boolean)]
        val usedSources = mutable.Set.empty[Int]
        (1 to batchDocs).foreach { _ =>
          val k = id()
          val r = rng.nextInt(100)
          if (r < 40) {
            val ws = words(50 + rng.nextInt(40)); val t = ws.mkString(" ")
            docs += ((k, t)); surv(k) = None; fresh += ((t, ws, true))
          } else if (r < 60) {
            val span = boilerplate(rng.nextInt(boilerplate.size))
            val t = withSpan(words(40 + rng.nextInt(30)), span)
            docs += ((k, t)); surv(k) = Some(span); fresh += ((t, Vector.empty, false))
          } else if (r < 80) {
            docs += ((k, catalogued(rng.nextInt(catalogued.size))))
          } else {
            var s = rng.nextInt(nearSources.size)
            while (usedSources(s)) s = rng.nextInt(nearSources.size)
            usedSources += s
            val ws = nearSources(s)
            val changed = (1 to 1 + rng.nextInt(2)).foldLeft(ws) { (acc, _) =>
              acc.updated(acc.size * 2 / 3 + rng.nextInt(acc.size / 3), vocab(rng.nextInt(vocab.size)))
            }
            docs += ((k, changed.mkString(" ")))
          }
        }
        fresh.foreach { case (t, ws, near) => catalogued += t; if (near) nearSources += ws }
        CurateBatch(docs.toSeq, surv.toMap, redelivery = false)
    }
    previous = Some(b)
    b
  }
}

/** `curate_stream`: the composed text-curation trigger
  * (`StreamingCurate.applyBatch`, default exact → near → substring tiers)
  * over persistent catalogs seeded with the prior corpus. */
object CurateBench {
  val PriorDocs = 600
  val BatchDocs = 48
  /** Every second batch is the previous one again (at-least-once replay). */
  val RedeliverEvery = 2
  /** Catalog compaction threshold (files per bucket). The library default
    * of 16 needs 16+ triggers per compaction cycle, far more than a run
    * of this benchmark holds; at 1, every trigger that appends compacts
    * the buckets it touched. */
  val CompactAboveFiles = 1
  /** Triggers a run makes at least: a fresh batch, its redelivery, and a
    * fresh batch probing the catalogs the first two left. */
  val MinTriggers = 3
  private val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  private def frame(ctx: Ctx, docs: Seq[(Long, String)]): DataFrame =
    ctx.spark.createDataFrame(docs.map { case (i, t) => Row(i, t) }.asJava, schema)

  private def config(root: String) = StreamingCurate.CurateConfig(
    s"$root/exact", s"$root/near", s"$root/substr", "doc_id", "text", graft.SparkEntry.SubstrDedupW,
    compactAboveFiles = CompactAboveFiles)

  /** Local-filesystem byte counts (Hadoop client statistics) and the
    * listing and open calls [[CountingFs]] saw. */
  private def fsStats(): Map[String, Long] =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")).map(
      _.getLongStatistics.asScala.map(s => s.getName -> s.getValue).toMap).getOrElse(Map.empty) ++
      Map("lists" -> CountingFs.lists.get, "opens" -> CountingFs.opens.get)

  /** Data file names per (tier, bucket directory) under a catalog root. */
  private def bucketFiles(root: String): Map[String, Set[String]] = {
    val out = mutable.Map.empty[String, Set[String]]
    def walk(f: java.io.File, tier: String): Unit =
      Option(f.listFiles).getOrElse(Array.empty[java.io.File]).foreach { c =>
        if (c.isDirectory) walk(c, tier)
        else if (c.getName.endsWith(".parquet")) {
          val k = s"$tier/${c.getParentFile.getName}"
          out(k) = out.getOrElse(k, Set.empty[String]) + c.getName
        }
      }
    Seq("exact", "near", "substr").foreach(t => walk(new java.io.File(s"$root/$t"), t))
    out.toMap
  }

  /** Runs `triggers` triggers, by default one per 5 s of `seconds` and at
    * least three (fresh, redelivery, fresh). The count is fixed up front,
    * not by elapsed time, so slower code cannot skip failing triggers. */
  def run(ctx: Ctx, seconds: Double, triggers: Option[Int] = None): Pass = {
    val total = triggers.getOrElse(math.max(MinTriggers, (seconds / 5).toInt))
    val gen = new CurateGen(ctx.seed, PriorDocs, BatchDocs, RedeliverEvery)
    val prior = frame(ctx, gen.prior)
    // set-up: seed the prior corpus into fresh catalogs (one trigger)
    val root = s"${ctx.runDir}/curate-${ctx.cores}"
    Main.deleteTree(new java.io.File(root))
    val tr = ctx.tracer
    tr.active = false
    val setupT0 = System.nanoTime()
    StreamingCurate.applyBatch(prior, config(root), added = 0L)
    val setupS = Seq((System.nanoTime() - setupT0) / 1e9)
    val cfg = config(root)

    val latency = ArrayBuffer.empty[Double]
    val mismatches = ArrayBuffer.empty[String]
    var docsOk = 0L
    var failed = 0L
    var compactions = 0
    val probeS = ArrayBuffer.empty[Double]; val deliverS = ArrayBuffer.empty[Double]
    val appendS = ArrayBuffer.empty[Double]; val jobs = ArrayBuffer.empty[Double]
    val shuffle = ArrayBuffer.empty[Double]
    val fsDelta = ArrayBuffer.empty[Map[String, Long]]
    val ops = ArrayBuffer.empty[OpRecord]
    val failures = ArrayBuffer.empty[String]
    var files = bucketFiles(root)
    var n = 0
    while (n < total) {
      n += 1
      val batch = gen.next()
      val df = frame(ctx, batch.docs)
      val delivered = ArrayBuffer.empty[(Long, Long, String)]
      var deliverStart = 0L; var deliverEnd = 0L
      Main.settle()
      val fs0 = fsStats()
      tr.setOp(n.toLong)
      tr.active = tr.enabled && n % 2 == 1
      val t0 = System.nanoTime()
      val ok = try {
        tr.span("streaming", "applyBatch") {
          StreamingCurate.applyBatch(df, cfg, added = n.toLong, deliver = out => {
            deliverStart = System.nanoTime()
            tr.span("streaming", "deliver") {
              out.select(col("doc_id"), col("n_removed"), col("clean_text")).collect()
                .foreach(r => delivered += ((r.getLong(0), r.getAs[Number](1).longValue, r.getString(2))))
            }
            deliverEnd = System.nanoTime()
          })
        }
        true
      } catch { case e: Exception =>
        val root = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq.last
        failures += s"trigger $n${if (batch.redelivery) " (redelivery)" else ""}: " +
          s"${root.getClass.getSimpleName}: ${String.valueOf(root.getMessage).take(160)}"
        Main.warn(failures.last)
        false
      }
      val t1 = System.nanoTime()
      ops += OpRecord(n.toLong, t0, t1, tr.active, ok)
      if (ok) { latency += (t1 - t0) / 1e9; docsOk += batch.docs.size } else { latency += Double.PositiveInfinity; failed += 1 }
      if (tr.active && ok) {
        probeS += (deliverStart - t0) / 1e9; deliverS += (deliverEnd - deliverStart) / 1e9
        appendS += (t1 - deliverEnd) / 1e9
        jobs += tr.jobsOf(n.toLong).size.toDouble
        shuffle += tr.shuffleBytes(n.toLong).toDouble
        val fs1 = fsStats()
        fsDelta += fs1.map { case (k, v) => k -> (v - fs0.getOrElse(k, 0L)) }
      }
      val after = bucketFiles(root)
      compactions += files.count { case (k, names) => !names.subsetOf(after.getOrElse(k, Set.empty)) }
      files = after

      // correctness of what this trigger delivered (checked whether or not
      // the trigger then failed: delivery precedes the catalog appends)
      if (deliverStart > 0L || ok) {
        val got = delivered.map(_._1).toSet
        val want = batch.survivors.keySet
        val tag = s"trigger $n${if (batch.redelivery) " (redelivery)" else ""}"
        if (got != want) {
          val extra = (got -- want).toSeq.sorted; val lost = (want -- got).toSeq.sorted
          mismatches += s"$tag: delivered ids differ from expected survivors " +
            s"(${extra.size} unexpected e.g. ${extra.take(3).mkString(",")}; " +
            s"${lost.size} missing e.g. ${lost.take(3).mkString(",")})"
        }
        delivered.foreach { case (i, removed, clean) =>
          batch.survivors.get(i).foreach {
            case Some(span) if clean.contains(span) || removed <= 0 =>
              mismatches += s"$tag: boilerplate span not scrubbed from doc $i"
            case None if removed != 0 =>
              mismatches += s"$tag: fresh doc $i lost $removed tokens"
            case _ => ()
          }
        }
      }
    }
    tr.active = tr.enabled
    val tail = Stats.tail(latency.toSeq)
    val totalOkS = latency.filter(!_.isInfinite).sum
    val docsPerS = if (totalOkS > 0) docsOk / totalOkS else 0.0
    val p50 = Stats.median(latency.toSeq)
    def med(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    def fsMed(keys: String*) = med(fsDelta.map(d => keys.map(d.getOrElse(_, 0L)).sum.toDouble))
    Pass("curate_stream",
      setupS = setupS,
      rate = docsPerS,
      latencies = latency.toSeq,
      attempted = n.toLong,
      failed = failed,
      mismatches = mismatches.take(12).toSeq ++
        (if (mismatches.size > 12) Seq(s"... ${mismatches.size - 12} more mismatches") else Nil),
      named = Seq(
        ("curate_trigger_p50_s", p50, "s"),
        ("curate_trigger_tail_s", tail.map(_._1).getOrElse(latency.max), "s"),
        ("curate_trigger_tail_percentile", tail.map(_._2).getOrElse(1.0), "share"),
        ("curate_triggers", n.toDouble, "count"),
        ("curate_docs_per_s", docsPerS, "1/s"),
        ("curate_compactions", compactions.toDouble, "count")),
      ops = ops.toSeq,
      failures = failures.toSeq,
      layers = if (probeS.isEmpty) Map.empty else Map(
        "streaming.probe_s" -> med(probeS),
        "streaming.deliver_s" -> med(deliverS),
        "streaming.append_s" -> med(appendS),
        "streaming.jobs_per_trigger" -> med(jobs),
        "streaming.shuffle_bytes_per_trigger" -> med(shuffle),
        "dedup.bytes_read_per_trigger" -> fsMed("bytesRead"),
        "dedup.bytes_written_per_trigger" -> fsMed("bytesWritten"),
        "dedup.list_calls_per_trigger" -> fsMed("lists"),
        "dedup.files_opened_per_trigger" -> fsMed("opens"),
        "dedup.catalog_files" -> files.values.map(_.size).sum.toDouble,
        "dedup.compactions" -> compactions.toDouble))
  }
}
