package graft.dedup

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** The persistent exact-dedup catalog: parity with the flat in-memory
  * path, pruned per-batch reads, duplicate tolerance, compaction, and
  * age-based retention (expired signatures stop suppressing new docs —
  * r7 stretch item 6, exact side; the near side is BandedCatalogSpec
  * territory inside StreamingNearDedupSpec). */
class ExactCatalogSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-exact-cat").toString

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  /** The catalog's parquet data files (meta and staging excluded). */
  private def parquetFiles(dir: String): Set[String] = {
    val walk = Files.walk(java.nio.file.Paths.get(dir))
    try walk.iterator().asScala.map(_.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("/_")).toSet
    finally walk.close()
  }

  test("incremental dedup through the catalog matches the flat path") {
    val dir = tmpDir()
    val corpus = docs(1L -> "alpha", 2L -> "beta", 3L -> "alpha")
    ExactCatalog.append(
      ExactCatalog.entriesOf(Dedup.dedupExact(corpus, "doc_id", "text"), "text"),
      dir, added = 0L)

    val batch = docs(10L -> "alpha", 11L -> "gamma", 12L -> "gamma",
      13L -> "beta", 14L -> "delta")
    val viaCatalog = ExactCatalog.applyBatch(batch, dir, "doc_id", "text",
      added = 1L)
    val flat = Dedup.dedupIncremental(
      batch, ExactCatalog.entriesOf(corpus, "text").distinct()
        .select(col("fp"), col("h2")),
      "doc_id", "text", secondKey = xxhash64(_))
    assert(viaCatalog.select("doc_id").as[Long].collect().sorted.toSeq ==
      flat.select("doc_id").as[Long].collect().sorted.toSeq)
    assert(viaCatalog.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(11L, 14L))

    // the batch's survivors entered the catalog: replaying the batch
    // admits nothing
    assert(ExactCatalog.applyBatch(batch, dir, "doc_id", "text",
      added = 2L).isEmpty)
  }

  test("per-batch read prunes to the batch's buckets") {
    val dir = tmpDir()
    val corpus = docs((1L to 200L).map(i => i -> s"doc $i"): _*)
    ExactCatalog.append(ExactCatalog.entriesOf(corpus, "text"), dir)
    val full = ExactCatalog.read(spark, dir)
    assert(full.count() == 200)

    val oneDoc = ExactCatalog.entriesOf(docs(999L -> "doc 7"), "text")
    val pruned = ExactCatalog.readForBatch(spark, dir, oneDoc)
    // fp pushdown: only the probe's fingerprint row comes back
    assert(pruned.count() == 1)
    assert(pruned.select("fp").as[Long].head() ==
      oneDoc.select("fp").as[Long].head())
    // and the scan carries a bucket partition filter (census-visible)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"no bucket partition filter in:\n$plan")
  }

  test("key-overflow probe pushes per-bucket fp RANGES; results match the capped path") {
    val dir = tmpDir()
    val corpus = docs((1L to 300L).map(i => i -> s"doc $i"): _*)
    ExactCatalog.append(ExactCatalog.entriesOf(corpus, "text"), dir)
    val batch = ExactCatalog.entriesOf(
      docs((1L to 40L).map(i => (1000L + i) -> s"doc $i"): _*), "text")

    // force overflow: 40 distinct fps against a cap of 8. The overflow
    // read is a SUPERSET read (ranges, not equalities — the downstream
    // anti-join does the equality), so soundness = every row the capped
    // equality read returns is present
    val overflow = ExactCatalog.readForBatch(spark, dir, batch,
      maxPushdownKeys = 8)
    val capped = ExactCatalog.readForBatch(spark, dir, batch)
    val overflowFps = overflow.select("fp").as[Long].collect().toSet
    val cappedFps = capped.select("fp").as[Long].collect().toSet
    assert(cappedFps.subsetOf(overflowFps),
      s"overflow probe lost matches: ${cappedFps -- overflowFps}")

    // the fp predicate reached the parquet scan as pushed data filters
    // (row-group skipping evidence — files are fp-sorted on disk). At
    // ~1 key/bucket the single-key buckets fold into one In(fp, …) arm
    // (r17 density split); multi-key buckets keep their BETWEEN arm.
    val plan = overflow.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("In(fp"),
      s"no pushed fp predicate in:\n${plan.take(2000)}")

    // OPERATOR-level parity: applyBatch under a forced-overflow cap
    // admits exactly the same survivors as under the default cap
    val dirA = tmpDir(); val dirB = tmpDir()
    val prior = docs((1L to 100L).map(i => i -> s"doc $i"): _*)
    ExactCatalog.append(ExactCatalog.entriesOf(prior, "text"), dirA)
    ExactCatalog.append(ExactCatalog.entriesOf(prior, "text"), dirB)
    val mixed = docs(((1L to 30L).map(i => (2000L + i) -> s"doc $i") ++
      (1L to 10L).map(i => (3000L + i) -> s"fresh $i")): _*)
    val viaOverflow = ExactCatalog.applyBatch(mixed, dirA, "doc_id", "text",
      added = 1L, maxPushdownKeys = 4)
      .select("doc_id").as[Long].collect().toSet
    val viaCapped = ExactCatalog.applyBatch(mixed, dirB, "doc_id", "text",
      added = 1L)
      .select("doc_id").as[Long].collect().toSet
    assert(viaOverflow == viaCapped)
    assert(viaOverflow == (1L to 10L).map(3000L + _).toSet)
  }

  test("dense key-overflow probe skips the fp predicate but stays a sound superset") {
    // r17 density split: hash-uniform keys at >3 per probed bucket make
    // per-bucket ranges cover most of each bucket's fp domain — a
    // pushed predicate then skips nothing and costs per-row evaluation,
    // so dense buckets must be read UNFILTERED; the read still returns
    // every capped-path row.
    val dir = tmpDir()
    val corpus = docs((1L to 300L).map(i => i -> s"doc $i"): _*)
    ExactCatalog.append(ExactCatalog.entriesOf(corpus, "text"), dir,
      numBuckets = 4) // 4 buckets × ~40 batch keys ≈ density 10 ≫ 3
    val batch = ExactCatalog.entriesOf(
      docs((1L to 40L).map(i => (1000L + i) -> s"doc $i"): _*), "text")
    val overflow = ExactCatalog.readForBatch(spark, dir, batch,
      maxPushdownKeys = 8)
    val plan = overflow.queryExecution.executedPlan.toString
    assert(!plan.contains("PushedFilters: [Or(") && !plan.contains("In(fp"),
      s"dense overflow probe must not pay a per-row fp predicate:\n${plan.take(1500)}")
    val capped = ExactCatalog.readForBatch(spark, dir, batch)
    val overflowFps = overflow.select("fp").as[Long].collect().toSet
    val cappedFps = capped.select("fp").as[Long].collect().toSet
    assert(cappedFps.subsetOf(overflowFps),
      s"dense overflow probe lost matches: ${cappedFps -- overflowFps}")
  }

  test("mixed-density overflow probes stay sound supersets at every bucket count") {
    // the density split sends single-key buckets through the In arm,
    // 2-3-key buckets through BETWEENs, and dense buckets through the
    // unfiltered scan — whichever way the hash happens to distribute
    // the batch, the union must contain every capped-path match
    for (buckets <- Seq(4, 8, 16, 64)) {
      val dir = tmpDir()
      val corpus = docs((1L to 300L).map(i => i -> s"doc $i"): _*)
      ExactCatalog.append(ExactCatalog.entriesOf(corpus, "text"), dir,
        numBuckets = buckets)
      val batch = ExactCatalog.entriesOf(
        docs((1L to 40L).map(i => (1000L + i) -> s"doc $i"): _*), "text")
      val overflow = ExactCatalog.readForBatch(spark, dir, batch,
        maxPushdownKeys = 8)
      val capped = ExactCatalog.readForBatch(spark, dir, batch)
      val overflowFps = overflow.select("fp").as[Long].collect().toSet
      val cappedFps = capped.select("fp").as[Long].collect().toSet
      assert(cappedFps.subsetOf(overflowFps),
        s"numBuckets=$buckets lost matches: ${cappedFps -- overflowFps}")
      assert(cappedFps.nonEmpty, s"numBuckets=$buckets: degenerate fixture")
    }
  }

  test("retention: expired signatures stop suppressing, retained keep dropping") {
    val dir = tmpDir()
    // crawl 1 (added = 1) and crawl 2 (added = 2)
    assert(ExactCatalog.applyBatch(docs(1L -> "old crawl", 2L -> "evergreen"),
      dir, "doc_id", "text", added = 1L).count() == 2)
    assert(ExactCatalog.applyBatch(docs(3L -> "new crawl"),
      dir, "doc_id", "text", added = 2L).count() == 1)

    // before retention, everything suppresses
    assert(ExactCatalog.applyBatch(
      docs(10L -> "old crawl", 11L -> "new crawl"),
      dir, "doc_id", "text", added = 3L).isEmpty)

    // retention drops crawl 1: its docs are admitted again, crawl 2+
    // docs still suppress
    ExactCatalog.compact(spark, dir, retainAddedFrom = Some(2L))
    val readmitted = ExactCatalog.applyBatch(
      docs(20L -> "old crawl", 21L -> "evergreen", 22L -> "new crawl"),
      dir, "doc_id", "text", added = 4L)
    assert(readmitted.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(20L, 21L))

    // and the re-admitted doc re-entered the catalog under the new tag
    assert(ExactCatalog.applyBatch(docs(30L -> "old crawl"),
      dir, "doc_id", "text", added = 5L).isEmpty)
  }

  test("compaction merges per-batch files, keeps the latest added tag, and is duplicate-tolerant") {
    val dir = tmpDir()
    (1L to 5L).foreach { b =>
      ExactCatalog.append(
        ExactCatalog.entriesOf(docs(b -> s"doc $b", 100L -> "repeat"), "text"),
        dir, added = b)
    }
    val before = ExactCatalog.fileCount(spark, dir)
    assert(before >= 5)
    // "repeat" appears 5 times (appends are duplicate-tolerant) but
    // suppresses exactly like one row
    assert(ExactCatalog.read(spark, dir).count() == 10)
    assert(ExactCatalog.applyBatch(docs(50L -> "repeat"), dir, "doc_id",
      "text", added = 6L).isEmpty)

    ExactCatalog.compact(spark, dir)
    assert(ExactCatalog.fileCount(spark, dir) < before)
    val rows = ExactCatalog.read(spark, dir)
    assert(rows.count() == 6) // 5 distinct docs + one collapsed repeat
    // the collapsed repeat keeps its LATEST sighting tag
    val repeatFp = ExactCatalog.entriesOf(docs(0L -> "repeat"), "text")
      .select("fp").as[Long].head()
    assert(rows.filter(col("fp") === repeatFp)
      .select("added").as[Long].head() == 5L)
    // dedup behavior unchanged after the rewrite
    assert(ExactCatalog.applyBatch(docs(60L -> "repeat", 61L -> "doc 3"),
      dir, "doc_id", "text", added = 7L).isEmpty)
  }

  test("delivery happens BEFORE the catalog append (crash-replay contract)") {
    val dir = tmpDir()
    // at deliver time the survivors' fingerprints must NOT be in the
    // catalog yet: a crash after append-but-before-downstream-delivery
    // would otherwise suppress the docs on replay without them ever
    // having been written anywhere (at-most-once loss)
    var seenAtDeliver = -1L
    var catalogAtDeliver = -1L
    ExactCatalog.applyBatch(docs(1L -> "only doc"), dir, "doc_id", "text",
      added = 1L, deliver = d => {
        seenAtDeliver = d.count()
        catalogAtDeliver = ExactCatalog.read(spark, dir).count()
      })
    assert(seenAtDeliver == 1L)
    assert(catalogAtDeliver == 0L,
      "append must land AFTER survivor delivery")
    assert(ExactCatalog.read(spark, dir).count() == 1L)
    // and a crash between delivery and append (simulated by a deliver
    // that throws) leaves the catalog unchanged → replay re-delivers
    intercept[RuntimeException] {
      ExactCatalog.applyBatch(docs(2L -> "second doc"), dir, "doc_id",
        "text", added = 2L, deliver = _ => throw new RuntimeException("sink down"))
    }
    val replayed = ExactCatalog.applyBatch(docs(2L -> "second doc"), dir,
      "doc_id", "text", added = 2L)
    assert(replayed.count() == 1L, "replay after failed delivery re-delivers")
  }

  test("selective compaction rewrites ONLY the chosen buckets") {
    val dir = tmpDir()
    // many appends so every bucket accumulates several files
    (1L to 4L).foreach { b =>
      ExactCatalog.append(
        ExactCatalog.entriesOf(
          docs((1L to 64L).map(i => (b * 1000 + i) -> s"doc ${b * 1000 + i}"): _*),
          "text"), dir, numBuckets = 4, added = b)
    }
    val before = ExactCatalog.bucketFileCounts(spark, dir)
    assert(before.size == 4 && before.values.forall(_ >= 2))
    val target = before.keys.min
    val rows = ExactCatalog.read(spark, dir).count()
    ExactCatalog.compact(spark, dir, buckets = Some(Seq(target)))
    val after = ExactCatalog.bucketFileCounts(spark, dir)
    assert(after(target) == 1, s"selected bucket not compacted: $after")
    // unselected buckets keep their file counts — the whole point: at
    // scale a hygiene compaction must never rewrite the full catalog
    before.foreach { case (b, n) =>
      if (b != target) assert(after(b) == n, s"bucket $b was rewritten") }
    assert(ExactCatalog.read(spark, dir).count() == rows,
      "selective compaction must not change catalog state")
  }

  test("data files are fp-sorted on disk (row-group skipping contract)") {
    val dir = tmpDir()
    ExactCatalog.append(
      ExactCatalog.entriesOf(docs((1L to 500L).map(i => i -> s"doc $i"): _*),
        "text"), dir, numBuckets = 4)
    // each parquet file read back INDIVIDUALLY must be fp-ascending —
    // the partitioned writer requires ordering by the partition column,
    // and a bare fp sort would be re-sorted by bucket alone (unstable),
    // silently voiding the min/max skipping the layout is built on
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.toString.endsWith(".parquet")).toArray.map(_.toString)
    assert(files.nonEmpty)
    files.foreach { f =>
      val fps = spark.read.parquet(f).select("fp").as[Long].collect()
      assert(fps.sameElements(fps.sorted), s"file $f not fp-sorted")
    }
  }

  test("numBuckets is a layout parameter: reopening with a different value fails") {
    val dir = tmpDir()
    ExactCatalog.append(ExactCatalog.entriesOf(docs(1L -> "a"), "text"),
      dir, numBuckets = 16)
    val e = intercept[IllegalArgumentException] {
      ExactCatalog.append(ExactCatalog.entriesOf(docs(2L -> "b"), "text"),
        dir, numBuckets = 32)
    }
    assert(e.getMessage.contains("numBuckets"))
  }

  test("a crashed rebucket target (rows, no meta) fails loudly on read") {
    val dir = tmpDir()
    ExactCatalog.append(
      ExactCatalog.entriesOf(
        docs((1L to 20L).map(i => i -> s"d$i"): _*), "text"),
      dir, numBuckets = 4)
    val to = tmpDir() + "/re"
    ExactCatalog.rebucket(spark, dir, to, 8)
    // simulate the crash window: rows landed, the commit-marker meta
    // (written LAST) did not — a reader must refuse, never silently
    // accept a partial fingerprint set that would readmit duplicates
    val p = new org.apache.hadoop.fs.Path(to, "_graft_exact_catalog.json")
    assert(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, false))
    val e = intercept[IllegalArgumentException] {
      ExactCatalog.read(spark, to).count()
    }
    assert(e.getMessage.contains("no meta file"))
  }

  test("rebucket re-shards into a fresh dir with dedup state intact") {
    val dir = tmpDir()
    val corpus = docs((1L to 100L).map(i => i -> s"doc $i"): _*)
    ExactCatalog.append(ExactCatalog.entriesOf(corpus, "text"), dir,
      numBuckets = 4, added = 7L)
    // a second sighting of doc 1 under a later tag (rebucket keeps MAX)
    ExactCatalog.append(ExactCatalog.entriesOf(docs(1L -> "doc 1"), "text"),
      dir, numBuckets = 4, added = 9L)

    val to = tmpDir() + "/re"
    ExactCatalog.rebucket(spark, dir, to, newBuckets = 16)
    assert(ExactCatalog.readMeta(spark, to).contains(16))
    // collapsed: one row per (fp, h2), latest tag preserved
    val rows = ExactCatalog.read(spark, to)
    assert(rows.count() == 100)
    assert(rows.filter(col("added") === 9L).count() == 1)
    // every row sits in its CORRECT new bucket (the pruning contract)
    assert(rows.filter(
      ExactCatalog.bucketOf(col("fp"), 16) =!= col("bucket")).count() == 0)

    // dedup state carried over: all-seen batch admits nothing, a fresh
    // doc still gets through (callers now pass the NEW bucket count)
    assert(ExactCatalog.applyBatch(
      docs(50L -> "doc 50", 51L -> "doc 51"), to, "doc_id", "text",
      numBuckets = 16, added = 10L).isEmpty)
    assert(ExactCatalog.applyBatch(
      docs(999L -> "brand new"), to, "doc_id", "text",
      numBuckets = 16, added = 10L).count() == 1)

    // guards: non-empty target refused; missing source refused
    val e1 = intercept[IllegalArgumentException] {
      ExactCatalog.rebucket(spark, dir, to, 32)
    }
    assert(e1.getMessage.contains("not empty"))
    val e2 = intercept[IllegalArgumentException] {
      ExactCatalog.rebucket(spark, tmpDir(), tmpDir() + "/x", 8)
    }
    assert(e2.getMessage.contains("no exact catalog"))
    // a non-positive bucket count would write a catalog whose every row
    // lands in the null partition while meta records the junk count
    val e3 = intercept[IllegalArgumentException] {
      ExactCatalog.rebucket(spark, dir, tmpDir() + "/z", 0)
    }
    assert(e3.getMessage.contains("must be positive"))
  }

  test("degenerate batches: an empty append or an all-duplicate batch changes neither the files nor the next probe") {
    val dir = tmpDir()
    val corpus = docs((1L to 50L).map(i => i -> s"doc $i"): _*)
    ExactCatalog.append(ExactCatalog.entriesOf(corpus, "text"), dir)
    val probe = ExactCatalog.entriesOf(
      docs(900L -> "doc 7", 901L -> "doc 42", 902L -> "never seen"), "text")
    def state() = (parquetFiles(dir),
      ExactCatalog.readForBatch(spark, dir, probe).collect().toSet)
    val before = state()
    assert(before._1.nonEmpty && before._2.size == 2)

    ExactCatalog.append(ExactCatalog.entriesOf(docs(), "text"), dir, added = 1L)
    assert(state() == before, "an empty append must be a no-op")

    // every doc already cataloged: nothing survives, nothing is appended
    val dupes = docs((1L to 50L).map(i => (100L + i) -> s"doc $i"): _*)
    assert(ExactCatalog.applyBatch(dupes, dir, "doc_id", "text",
      added = 2L).isEmpty)
    assert(state() == before, "an all-duplicate batch must be a no-op")
  }
}
