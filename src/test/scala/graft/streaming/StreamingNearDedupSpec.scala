package graft.streaming

import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.dedup.Dedup

class StreamingNearDedupSpec extends AnyFunSuite with SparkTestBase {

  // near-dup = original text with a tiny tail mutation: shingle overlap
  // stays near-total, estimated Jaccard well above the 0.7 threshold
  private def mutate(t: String) = t + " xx"

  private def corpus(): (Seq[(Long, String)], Seq[(Long, String)]) = {
    val base = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text")).orderBy("doc_id").limit(120).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val b1 = base.take(100).toSeq
    // batch 2: 10 near-dups of batch-1 docs (cross-batch drops), 20 fresh
    val b2 = (base.take(10).map { case (id, t) => (id + 100000L, mutate(t)) } ++
      base.slice(100, 120)).toSeq
    (b1, b2)
  }

  test("streaming survivors equal sequential batch dedupNearIncremental") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (b1, b2) = corpus()
    val tmp = Files.createTempDirectory("graft-snd").toString

    // reference: the oracled batch-incremental path applied sequentially
    val empty = StreamingNearDedup.readCatalog(spark, s"$tmp/nocatalog")
    val s1 = Dedup.dedupNearIncremental(
      b1.toDF("doc_id", "text"), empty, "doc_id", "text")
    val cat1 = Dedup.minhashNearCatalog(s1, "doc_id", "text")
    val s2 = Dedup.dedupNearIncremental(
      b2.toDF("doc_id", "text"), cat1, "doc_id", "text")
    val want = (s1.collect() ++ s2.collect())
      .map(r => (r.getLong(0), r.getString(1))).toSet

    val delivered = ArrayBuffer.empty[(Long, String)]
    val input = MemoryStream[(Long, String)]
    val q = StreamingNearDedup.writer(
        input.toDS().toDF("doc_id", "text"),
        s"$tmp/catalog", s"$tmp/ckpt", "doc_id", "text",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)) {
        surv => delivered ++= surv.collect()
          .map(r => (r.getLong(0), r.getString(1)))
      }
      .start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    q.stop()

    assert(delivered.toSet == want)
    // the semantics the parity is FOR: cross-batch near-dups dropped,
    // fresh batch-2 docs survived
    assert(!delivered.exists(_._1 >= 100000L))
    // some batch-2 docs genuinely survive (the corpus carries its own
    // planted near-dups, so not ALL of them do — the reference path
    // agrees per the set equality above)
    val freshIds = b2.collect { case (id, _) if id < 100000L => id }.toSet
    assert(delivered.exists(p => freshIds.contains(p._1)))
    // catalog state is banded signature rows per survivor — never texts
    val cat = graft.dedup.BandedCatalog.read(spark, s"$tmp/catalog")
    assert(cat.select("id").distinct().count() == want.size)
    assert(cat.columns.toSet ==
      Set("band", "band_key", "id", "__sig", "added", "bucket"))
    // batch/stream catalog interop: the banded batch entry point over
    // the stream's catalog agrees with the flat oracled path over the
    // equivalent flat catalog
    val flat = cat.select(col("id"), col("__sig")).dropDuplicates("id")
    val nextBatch = b1.take(5).map { case (id, t) => (id + 900000L, mutate(t)) } :+
      (999999L, "a genuinely fresh document about nothing else " * 3)
    val viaBanded = Dedup.dedupNearIncrementalBanded(
      nextBatch.toDF("doc_id", "text"), cat, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    val viaFlat = Dedup.dedupNearIncremental(
      nextBatch.toDF("doc_id", "text"), flat, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(viaBanded == viaFlat)
    assert(viaBanded.contains(999999L))
    assert(!viaBanded.exists(id => id >= 900000L && id < 999999L))
  }

  test("restart from checkpoint: the catalog carries dedup state across queries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (b1, _) = corpus()
    val tmp = Files.createTempDirectory("graft-snd-restart").toString
    val delivered = ArrayBuffer.empty[Long]
    val input = MemoryStream[(Long, String)]
    def start() = StreamingNearDedup.writer(
        input.toDS().toDF("doc_id", "text"),
        s"$tmp/catalog", s"$tmp/ckpt", "doc_id", "text",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)) {
        surv => delivered ++= surv.collect().map(_.getLong(0))
      }.start()

    val q1 = start()
    input.addData(b1); q1.processAllAvailable(); q1.stop()
    val afterB1 = delivered.toSet

    // a NEW query from the same checkpoint + catalog: near-dups of
    // docs seen BEFORE the restart must still drop — the parquet
    // catalog, not engine state, carries the dedup memory
    val q2 = start()
    input.addData(b1.take(20).map { case (id, t) => (id + 500000L, mutate(t)) })
    q2.processAllAvailable(); q2.stop()
    assert(delivered.toSet == afterB1,
      "post-restart near-dups of pre-restart docs must all drop")
  }

  test("a replayed batch after its catalog append emits nothing (replay converges)") {
    import spark.implicits._
    val (b1, _) = corpus()
    val tmp = Files.createTempDirectory("graft-snd-replay").toString
    val first = StreamingNearDedup.applyBatch(
      b1.toDF("doc_id", "text"), s"$tmp/catalog", "doc_id", "text")
    assert(first.count() > 0)
    // crash-after-append: the SAME batch replays against the catalog
    val replay = StreamingNearDedup.applyBatch(
      b1.toDF("doc_id", "text"), s"$tmp/catalog", "doc_id", "text")
    assert(replay.isEmpty, "replayed docs must match their own signatures and drop")
  }

  test("compaction merges per-trigger appends and preserves dedup state") {
    import spark.implicits._
    val (b1, b2) = corpus()
    val tmp = Files.createTempDirectory("graft-snd-compact").toString
    val dir = s"$tmp/catalog"
    // two triggers, auto-compaction disabled: each append leaves its own
    // per-bucket files
    StreamingNearDedup.applyBatch(
      b1.toDF("doc_id", "text"), dir, "doc_id", "text",
      compactAboveFiles = 0, added = 1L)
    val s2 = StreamingNearDedup.applyBatch(
      b2.toDF("doc_id", "text"), dir, "doc_id", "text",
      compactAboveFiles = 0, added = 2L)
    val beforeFiles = graft.dedup.BandedCatalog.fileCount(spark, dir)
    val beforeState = graft.dedup.BandedCatalog.read(spark, dir)
      .select("id").distinct().collect().map(_.getLong(0)).toSet

    graft.dedup.BandedCatalog.compact(spark, dir)
    val afterFiles = graft.dedup.BandedCatalog.fileCount(spark, dir)
    assert(afterFiles < beforeFiles,
      s"compaction must shrink the file count ($beforeFiles -> $afterFiles)")
    val afterState = graft.dedup.BandedCatalog.read(spark, dir)
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(afterState == beforeState, "compaction must not change catalog state")

    // dedup memory intact: near-dups of pre-compaction survivors drop
    val mutants = (b1.take(5) ++ s2.collect().take(5)
        .map(r => (r.getLong(0), r.getString(1))))
      .map { case (id, t) => (id + 700000L, mutate(t)) }
    val after = StreamingNearDedup.applyBatch(
      mutants.toDF("doc_id", "text"), dir, "doc_id", "text",
      compactAboveFiles = 0, added = 3L)
    assert(after.isEmpty, "near-dups of pre-compaction docs must still drop")
  }

  test("retention: expired signatures stop suppressing new docs") {
    import spark.implicits._
    val (b1, _) = corpus()
    val old = b1.take(10)
    val fresh = b1.slice(50, 60)
    val tmp = Files.createTempDirectory("graft-snd-ttl").toString
    val dir = s"$tmp/catalog"
    // work from the batches' actual SURVIVORS — only their signatures
    // are in the catalog (the corpus carries planted near-dups of its
    // own, so not every input doc lands there)
    val s1 = StreamingNearDedup.applyBatch(
      old.toDF("doc_id", "text"), dir, "doc_id", "text",
      compactAboveFiles = 0, added = 1L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val s2 = StreamingNearDedup.applyBatch(
      fresh.toDF("doc_id", "text"), dir, "doc_id", "text",
      compactAboveFiles = 0, added = 2L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(s1.nonEmpty && s2.nonEmpty)

    // age out crawl 1: compaction drops every signature tagged below 2
    graft.dedup.BandedCatalog.compact(spark, dir, retainAddedFrom = Some(2L))
    val ids = graft.dedup.BandedCatalog.read(spark, dir)
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(ids == s2.map(_._1).toSet,
      s"only crawl-2 signatures may remain, got $ids")

    // near-dups of the EXPIRED crawl now survive; near-dups of the
    // retained crawl still drop — the pin the verdict asked for
    val probes = (s1.take(5).map { case (id, t) => (id + 300000L, mutate(t)) } ++
      s2.take(5).map { case (id, t) => (id + 400000L, mutate(t)) }).toSeq
    val out = StreamingNearDedup.applyBatch(
      probes.toDF("doc_id", "text"), dir, "doc_id", "text",
      compactAboveFiles = 0, added = 3L)
      .collect().map(_.getLong(0)).toSet
    assert(s1.take(5).forall { case (id, _) => out.contains(id + 300000L) },
      "near-dups of expired signatures must survive after retention")
    assert(s2.take(5).forall { case (id, _) => !out.contains(id + 400000L) },
      "near-dups of retained signatures must still drop")
  }

  test("catalog data files are band_key-sorted on disk (row-group skipping contract)") {
    import spark.implicits._
    val (b1, _) = corpus()
    val tmp = Files.createTempDirectory("graft-snd-sorted").toString
    val dir = s"$tmp/catalog"
    StreamingNearDedup.applyBatch(
      b1.toDF("doc_id", "text"), dir, "doc_id", "text",
      compactAboveFiles = 0, numBuckets = 4, added = 1L)
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.toString.endsWith(".parquet")).toArray.map(_.toString)
    assert(files.nonEmpty)
    files.foreach { f =>
      val keys = spark.read.parquet(f).select("band_key").as[Long].collect()
      assert(keys.sameElements(keys.sorted), s"file $f not band_key-sorted")
    }
  }

  test("rolling retention (retainAddedBehind) applies at auto-compaction") {
    import spark.implicits._
    val (b1, _) = corpus()
    val old = b1.take(10)
    val fresh = b1.slice(50, 60)
    val tmp = Files.createTempDirectory("graft-snd-roll").toString
    val dir = s"$tmp/catalog"
    val s1 = StreamingNearDedup.applyBatch(
      old.toDF("doc_id", "text"), dir, "doc_id", "text",
      compactAboveFiles = 0, added = 1L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // batch at added = 5 with a 2-batch retention window, landing on
    // the retention-sweep cadence (5 % 5 == 0): the FULL sweep applies
    // cutoff = 5 - 2 = 3 catalog-wide, aging out the added=1 rows in
    // EVERY bucket (per-bucket hygiene compactions alone only age the
    // buckets they rewrite), while this batch's own appends (added = 5)
    // are retained
    val s2 = StreamingNearDedup.applyBatch(
      fresh.toDF("doc_id", "text"), dir, "doc_id", "text",
      compactAboveFiles = 1, added = 5L, retainAddedBehind = Some(2L),
      retentionSweepEvery = 5L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(s1.nonEmpty && s2.nonEmpty)
    val ids = graft.dedup.BandedCatalog.read(spark, dir)
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(ids == s2.map(_._1).toSet,
      s"auto-compaction must have aged out the old crawl, got $ids")
    val probes = (s1.take(5).map { case (id, t) => (id + 500000L, mutate(t)) } ++
      s2.take(5).map { case (id, t) => (id + 600000L, mutate(t)) }).toSeq
    val out = StreamingNearDedup.applyBatch(
      probes.toDF("doc_id", "text"), dir, "doc_id", "text",
      compactAboveFiles = 0, added = 6L)
      .collect().map(_.getLong(0)).toSet
    assert(s1.take(5).forall { case (id, _) => out.contains(id + 500000L) })
    assert(s2.take(5).forall { case (id, _) => !out.contains(id + 600000L) })
  }

  test("rebucket re-shards the signature catalog with dedup state intact") {
    import spark.implicits._
    val (b1, _) = corpus()
    val tmp = Files.createTempDirectory("graft-snd-rebucket").toString
    val dir = s"$tmp/catalog"
    val s1 = StreamingNearDedup.applyBatch(
      b1.toDF("doc_id", "text"), dir, "doc_id", "text",
      numBuckets = 4, added = 1L)
    assert(s1.count() > 0)

    val to = s"$tmp/catalog16"
    graft.dedup.BandedCatalog.rebucket(spark, dir, to, newBuckets = 16)
    val m = graft.dedup.BandedCatalog.readMeta(spark, to).get
    // bucket count moved, banding parameters preserved verbatim
    assert(m.numBuckets == 16)
    val old = graft.dedup.BandedCatalog.readMeta(spark, dir).get
    assert((m.bands, m.rowsPerBand, m.shingleSize) ==
      (old.bands, old.rowsPerBand, old.shingleSize))
    // identical logical state, rows in their CORRECT new buckets
    val rows = graft.dedup.BandedCatalog.read(spark, to)
    assert(rows.select("id").distinct().collect().map(_.getLong(0)).toSet ==
      graft.dedup.BandedCatalog.read(spark, dir)
        .select("id").distinct().collect().map(_.getLong(0)).toSet)
    assert(rows.filter(graft.dedup.BandedCatalog
      .bucketOf(col("band_key"), 16) =!= col("bucket")).count() == 0)

    // dedup memory carried: near-dups of pre-rebucket survivors drop
    // against the NEW layout (callers pass the new bucket count)
    val mutants = b1.take(5).map { case (id, t) => (id + 800000L, mutate(t)) }
    assert(StreamingNearDedup.applyBatch(
      mutants.toDF("doc_id", "text"), to, "doc_id", "text",
      numBuckets = 16, added = 2L).isEmpty)

    // guards: non-empty target and missing source refuse loudly
    val e1 = intercept[IllegalArgumentException] {
      graft.dedup.BandedCatalog.rebucket(spark, dir, to, 32)
    }
    assert(e1.getMessage.contains("not empty"))
    val e2 = intercept[IllegalArgumentException] {
      graft.dedup.BandedCatalog.rebucket(spark, s"$tmp/nope", s"$tmp/x", 8)
    }
    assert(e2.getMessage.contains("no banded catalog"))

    // crash contract: rebucket writes meta LAST as the commit marker —
    // a target with rows but no meta (the crash window) must refuse
    // loudly on read, never read as a partial signature set
    val p = new org.apache.hadoop.fs.Path(to, "_graft_catalog.json")
    assert(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, false))
    val e3 = intercept[IllegalArgumentException] {
      graft.dedup.BandedCatalog.read(spark, to).count()
    }
    assert(e3.getMessage.contains("no meta file"))
  }

  test("catalog meta is authoritative: default-arg batches adopt the regime; versioned rebucket preserves it") {
    import spark.implicits._
    import graft.dedup.BandedCatalog
    val (b1, b2) = corpus()
    val root = Files.createTempDirectory("graft-snd-meta").toString + "/vroot"
    val committed = (d: String) => BandedCatalog.readMeta(spark, d).isDefined

    // v1 created at a NON-default regime (the bench's prune-capable
    // shape in miniature: many buckets, different banding)
    var s1Ids = Set.empty[Long]
    val v1 = graft.ops.VersionedStore.cutover(spark, root, committed) { d =>
      s1Ids = StreamingNearDedup.applyBatch(
        b1.toDF("doc_id", "text"), d, "doc_id", "text",
        shingleSize = 3, bands = 8, rowsPerBand = 8, numBuckets = 32,
        added = 1L).collect().map(_.getLong(0)).toSet
    }
    val m0 = BandedCatalog.readMeta(spark, v1).get
    assert(m0 == BandedCatalog.Meta(32, 8, 8, 3)) // meta round-trip

    // a batch with DEFAULT layout args adopts the catalog's regime:
    // near-dups of batch-1 docs drop (probing with the meta's banding —
    // default 16×4 band keys would never match rows banded 8×8), fresh
    // docs survive, and the appended rows land in the META's buckets
    val out = StreamingNearDedup.applyBatch(
      b2.toDF("doc_id", "text"), v1, "doc_id", "text", added = 2L)
    val outIds = out.collect().map(_.getLong(0)).toSet
    // every planted mutant dropped (only possible when the probe bands
    // with the META's 8×8 regime); survivors are genuinely-fresh docs
    // (a strict-equality check would over-pin: the corpus has planted
    // near-dups of its own, and 3-shingles legitimately catch more)
    assert(outIds.nonEmpty && outIds.forall(_ < 100000L), s"survivors: $outIds")
    assert(BandedCatalog.readMeta(spark, v1).contains(m0))
    assert(BandedCatalog.read(spark, v1)
      .filter(BandedCatalog.bucketOf(col("band_key"), 32) =!= col("bucket"))
      .count() == 0)

    // versioned growth: a tight byte target trips Rebucket, EXECUTED
    // into v2 — banding preserved, bucket count doubled past 32
    val (serving, acts) = BandedCatalog.maintainVersioned(spark, root,
      graft.ops.GrowthPolicy.Policy(targetBucketBytes = 1L, maxFilesPerBucket = 64))
    assert(acts.exists {
      case graft.ops.GrowthPolicy.Rebucket(n, _) => n > 32; case _ => false
    })
    assert(serving == graft.ops.VersionedStore.versionDir(root, 2))
    assert(!new java.io.File(v1).exists(), "retired predecessor must be swept")
    val m1 = BandedCatalog.readMeta(spark, serving).get
    assert(m1.numBuckets > 32 &&
      (m1.bands, m1.rowsPerBand, m1.shingleSize) == (8, 8, 3))

    // dedup memory carried through the cutover, still under default
    // args: mutants of the LONGEST batch-1 SURVIVORS (long text keeps
    // the mutated Jaccard near 1, so the 8-row bands collide
    // deterministically; a dropped or short doc would test probability,
    // not the meta-derived probe) drop against v2
    val mutants = b1.filter(d => s1Ids.contains(d._1))
      .sortBy(-_._2.length).take(5)
      .map { case (id, t) => (id + 950000L, mutate(t)) }
    assert(StreamingNearDedup.applyBatch(
      mutants.toDF("doc_id", "text"), serving, "doc_id", "text",
      added = 3L).isEmpty)
  }

  test("versioned root: tripped maintenance cuts the STREAM over mid-flight, state intact") {
    import spark.implicits._
    import graft.dedup.BandedCatalog
    val (b1, _) = corpus()
    val root = Files.createTempDirectory("graft-snd-vroot").toString + "/vroot"
    // trigger 1 bootstraps v1 from an empty root
    val s1 = StreamingNearDedup.applyBatchVersioned(
      b1.toDF("doc_id", "text"), root, "doc_id", "text",
      numBuckets = 4, added = 1L)
    val s1Ids = s1.collect().map(_.getLong(0)).toSet
    assert(s1Ids.nonEmpty)
    assert(graft.ops.VersionedStore.current(spark, root,
      d => BandedCatalog.readMeta(spark, d).isDefined)
      .contains(graft.ops.VersionedStore.versionDir(root, 1)))

    // trigger 2 lands on the maintenance cadence with a tight byte
    // target: Rebucket trips and EXECUTES into v2 — no stream restart,
    // the operator itself cut over
    val mutantsA = b1.filter(d => s1Ids.contains(d._1))
      .sortBy(-_._2.length).take(5)
      .map { case (id, t) => (id + 700000L, mutate(t)) }
    val s2 = StreamingNearDedup.applyBatchVersioned(
      mutantsA.toDF("doc_id", "text"), root, "doc_id", "text",
      added = 2L, maintainEvery = 2L,
      policy = graft.ops.GrowthPolicy.Policy(
        targetBucketBytes = 1L, maxFilesPerBucket = 64))
    assert(s2.isEmpty, "near-dups of v1 survivors must drop before the cutover")
    val serving = graft.ops.VersionedStore.current(spark, root,
      d => BandedCatalog.readMeta(spark, d).isDefined).get
    assert(serving == graft.ops.VersionedStore.versionDir(root, 2))
    assert(!new java.io.File(graft.ops.VersionedStore.versionDir(root, 1))
      .exists(), "retired predecessor must be swept")
    assert(BandedCatalog.readMeta(spark, serving).get.numBuckets > 4)

    // trigger 3 probes the NEW version with default args: dedup memory
    // carried through the mid-stream rebucket
    val mutantsB = b1.filter(d => s1Ids.contains(d._1))
      .sortBy(-_._2.length).take(5)
      .map { case (id, t) => (id + 990000L, mutate(t)) }
    assert(StreamingNearDedup.applyBatchVersioned(
      mutantsB.toDF("doc_id", "text"), root, "doc_id", "text",
      added = 3L).isEmpty)
  }

  test("degenerate triggers: empty, all-duplicate and post-compaction empty batches change neither files nor probes") {
    import spark.implicits._
    val (b1, b2) = corpus()
    val dir = Files.createTempDirectory("graft-snd-degenerate").toString + "/catalog"
    StreamingNearDedup.applyBatch(b1.toDF("doc_id", "text"), dir,
      "doc_id", "text", compactAboveFiles = 0, added = 1L)

    val m = graft.dedup.BandedCatalog.readMeta(spark, dir).get
    val probeDocs = b1.take(5).map { case (id, t) => (id + 900000L, mutate(t)) }
      .toDF("doc_id", "text")
    val probe = graft.dedup.BandedCatalog.bandRows(
      Dedup.withMinhashSignature(probeDocs, "text", m.shingleSize,
        m.bands * m.rowsPerBand).select(col("doc_id").as("id"), col("__sig")),
      m.bands, m.rowsPerBand, m.numBuckets, 0L)
    def state() = {
      val walk = Files.walk(java.nio.file.Paths.get(dir))
      val files =
        try walk.iterator().asScala.map(_.toString)
          .filter(p => p.endsWith(".parquet") && !p.contains("/_")).toSet
        finally walk.close()
      (files, graft.dedup.BandedCatalog.readForBatch(spark, dir, probe)
        .select("band_key", "id", "added").collect().toSet)
    }
    def trigger(rows: Seq[(Long, String)], added: Long, compactAbove: Int) =
      StreamingNearDedup.applyBatch(rows.toDF("doc_id", "text"), dir,
        "doc_id", "text", compactAboveFiles = compactAbove, added = added)

    val before = state()
    assert(before._1.nonEmpty && before._2.nonEmpty)
    assert(trigger(Seq.empty, 2L, 0).isEmpty)
    assert(state() == before, "an empty trigger must be a no-op")
    assert(trigger(b1, 3L, 0).isEmpty)
    assert(state() == before, "an all-duplicate trigger must be a no-op")

    // fresh survivors land, then the catalog compacts to one file per bucket
    assert(trigger(b2, 4L, 1).count() > 0)
    assert(graft.dedup.BandedCatalog.bucketFileCounts(spark, dir)
      .values.forall(_ == 1))
    val compacted = state()
    // a redelivered trigger against the compacted catalog: no survivors,
    // and the probe reads the compacted files, not the deleted inputs
    assert(trigger(b2, 5L, 1).isEmpty)
    assert(state() == compacted,
      "an empty trigger after compaction must be a no-op")
  }
}
