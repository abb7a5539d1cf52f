package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import graft.config.PipeConfig
import graft.live.{JdbcConnInfo, PgOutputJdbcSource, PgRelation}
import graft.pipe.{CdcSource, FileOffsetStore, MultiTablePipe, TableSpec}
import graft.sinks.{ClickHouseDialect, SqlDialect, StatementSink}
import graft.types.{CHColumn, CHType}

/** The Postgres → ClickHouse workloads. Both drive the real pipe body
  * (`Main.runPostgresWith`) between a [[ScriptedPg]] source and a
  * [[RecordingCh]] target; the CDC workload's open-loop phase composes
  * `MultiTablePipe.syncOnce` exactly as `runPostgresWith` does, because
  * `syncLoop` returns at the first empty peek. */
object PgBench {
  val Pub = "graftbench_pub"
  val Slot = "graftbench_slot"
  val Database = "bench"
  /** Span op ids of pipe iterations: one per peek. */
  val PeekOp = 1000000L

  /** Initial source sizes (rows) of the snapshot workload. */
  val SnapshotRows = Map("hot_counters" -> 18000, "wide_items" -> 6000, "event_queue" -> 12000)
  /** Untimed passes before the timed ones: the first compiles, the second
    * still runs measurably slower while the JIT settles. */
  val SnapshotWarmUps = 2
  /** Initial source sizes of the CDC workload (copied during set-up). */
  val CdcInitialRows = Map("hot_counters" -> 4000, "wide_items" -> 2000, "event_queue" -> 2000)
  /** Change events in the CDC backlog (closed-loop phase): one peek at
    * the default `peek_changes_limit` of 65,536 changes. */
  val BacklogEvents = 20000
  /** Changes the first throwaway set-up drains to warm the sync path. */
  val WarmUpEvents = 2000

  def config(peekLimit: Long): PipeConfig = PipeConfig.fromJson(
    s"""{
       |  "source": {"source_type": "postgres", "postgres": {
       |    "connection": {"host": "source", "port": 5432, "database": "bench"},
       |    "publication_name": "$Pub", "replication_slot_name": "$Slot",
       |    "use_copy_snapshot": true,
       |    "tables": [
       |      {"table_name": "hot_counters"},
       |      {"table_name": "wide_items", "mask_columns": ["secret"]},
       |      {"table_name": "event_queue"}]}},
       |  "target": {"target_type": "clickhouse", "clickhouse": {
       |    "connection": {"host": "target", "port": 8123, "database": "$Database"},
       |    "distributed_inserts": false}},
       |  "peek_changes_limit": $peekLimit,
       |  "sleep_millis_when_peek_failed": 0, "sleep_millis_when_peek_is_empty": 0,
       |  "sleep_millis_when_write_failed": 0, "sleep_millis_after_sync_iteration": 0,
       |  "sleep_millis_after_sync_write": 0
       |}""".stripMargin)

  private val emptyWal = new WalBuilder().result()

  private def offsetFile = new java.io.File(s"${graft.Main.offsetsDir}/$Slot.offset")

  /** initialize → first_sync → sync_loop (until the first empty peek). */
  private def runPipe(ctx: Ctx, cfg: PipeConfig, src: ScriptedPg, log: TargetLog): Unit =
    ctx.tracer.span("pipe", "runPostgresWith") {
      graft.Main.runPostgresWith(ctx.spark, cfg, cfg.source.postgres.get, src,
        JdbcConnInfo("jdbc:graftbench:source"), "jdbc:graftbench:source",
        _ => new RecordingCh(log, ctx.tracer))
    }

  /** One snapshot pass timed by phase, plus the fold of what it wrote. */
  private final case class SnapshotPass(op: OpRecord, initializeS: Double, firstSyncS: Double,
      rows: Long, sqlBytes: Long, copyS: Double, copyBytes: Long, ddlStatements: Int,
      statements: Int, mismatches: Seq[String])

  private def snapshotPass(ctx: Ctx, cfg: PipeConfig, tables: Seq[PgTable], initial: SourceState,
      op: Long): SnapshotPass = {
    val log = new TargetLog
    val src = new ScriptedPg(tables, initial, emptyWal, Pub, Slot, cfg.peekChangesLimit, ctx.tracer)
    offsetFile.delete()
    ctx.tracer.setOp(op)
    val t0 = System.nanoTime()
    runPipe(ctx, cfg, src, log)
    val t1 = System.nanoTime()
    val fold = new ChFold
    log.statements.foreach(fold(_))
    SnapshotPass(OpRecord(op, log.firstProbeNs, src.firstPeekNs, ctx.tracer.active, ok = true),
      initializeS = (log.firstProbeNs - t0) / 1e9,
      firstSyncS = (src.firstPeekNs - log.firstProbeNs) / 1e9,
      rows = fold.inserted, sqlBytes = fold.insertBytes,
      copyS = src.copyNanos / 1e9, copyBytes = src.copyBytes,
      ddlStatements = src.executes + log.statementsAtFirstProbe,
      statements = log.statements.size,
      mismatches = ChFold.compare(fold, initial))
  }

  /** `pg_snapshot`: untimed warm-up passes (JIT and query compilation),
    * then `passes` timed full passes (initialize + first_sync of the three
    * generated tables through the COPY snapshot), by default one per 3 s
    * of `seconds`. The count is fixed up front: pass times still fall
    * over the first passes as the JIT settles, so a time-bounded count
    * would move the median with the speed of the code. */
  def snapshot(ctx: Ctx, seconds: Double, passes: Option[Int] = None): Pass = {
    val gen = new PgGen(ctx.seed, cdc = false)
    val initial = gen.initial(SnapshotRows)
    val cfg = config(65536L)
    val done = ArrayBuffer.empty[SnapshotPass]
    val failedOps = ArrayBuffer.empty[OpRecord]
    val tr = ctx.tracer
    tr.active = false
    val warmUp = (1 to SnapshotWarmUps).flatMap { i =>
      try Some(snapshotPass(ctx, cfg, gen.tables, initial, -i.toLong))
      catch { case e: Exception => Main.warn(s"snapshot warm-up pass failed: $e"); None }
    }
    val total = passes.getOrElse(math.max(2, (seconds / 3).toInt))
    while (done.size + failedOps.size < total) {
      val n = done.size + failedOps.size
      tr.active = tr.enabled && n % 2 == 0
      Main.settle()
      val t0 = System.nanoTime()
      try done += snapshotPass(ctx, cfg, gen.tables, initial, n.toLong)
      catch { case e: Exception =>
        failedOps += OpRecord(n.toLong, t0, System.nanoTime(), tr.active, ok = false)
        Main.warn(s"snapshot pass failed: $e")
      }
    }
    tr.active = tr.enabled
    val failed = failedOps.size + SnapshotWarmUps - warmUp.size
    val syncS = done.map(_.firstSyncS) ++ Seq.fill(failed)(Double.PositiveInfinity)
    val rowsPerS = Stats.median((done.map(p => p.rows / p.firstSyncS) ++ Seq.fill(failed)(0.0)).toSeq)
    val all = warmUp ++ done
    val traced = done.filter(_.op.traced)
    def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    Pass("pg_snapshot",
      setupS = all.map(_.initializeS),
      rate = rowsPerS,
      latencies = syncS.toSeq,
      attempted = done.size + failedOps.size + SnapshotWarmUps + all.map(_.statements.toLong).sum,
      failed = failed,
      mismatches = all.flatMap(_.mismatches).distinct.take(12) ++
        (if (done.isEmpty) Seq("no snapshot pass completed") else Nil),
      named = Seq(
        ("snapshot_rows_per_s", rowsPerS, "1/s"),
        ("first_sync_p50_s", Stats.median(syncS.toSeq), "s"),
        ("first_sync_max_s", syncS.max, "s"),
        ("snapshot_passes", done.size.toDouble, "count"),
        ("rows_per_pass", all.lastOption.map(_.rows.toDouble).getOrElse(0.0), "count")),
      ops = done.map(_.op).toSeq ++ failedOps,
      layers = if (traced.isEmpty) Map.empty else Map(
        "decode.copy_stream_s" -> med(traced.map(_.copyS).toSeq),
        "decode.copy_bytes" -> traced.last.copyBytes.toDouble,
        "pipe.first_sync_s" -> med(traced.map(_.firstSyncS).toSeq),
        "pipe.first_sync_jobs" -> med(traced.map(p => tr.jobsOf(p.op.op).size.toDouble).toSeq),
        "ddl.initialize_s" -> med(all.map(_.initializeS)),
        "ddl.statements" -> all.last.ddlStatements.toDouble,
        "sinks.sql_bytes_per_row" -> all.last.sqlBytes.toDouble / math.max(1L, all.last.rows)))
  }

  private def columns(t: PgTable): Seq[CHColumn] =
    t.cols.map(c => CHColumn(c.name, CHType.fromPgUdt(c.udt, nullable = !c.pk), isPrimaryKey = c.pk))

  /** `pg_cdc`: set-up (initialize + COPY first_sync of small tables, run
    * `setups` times against fresh endpoints, the last one real), phase 1
    * drains the pre-generated backlog through `runPostgresWith`'s sync
    * loop, phase 2 offers `ctx.offeredRate` events/s open-loop to a
    * `syncOnce` poll loop until `seconds` have passed since phase 1
    * began. `phase2 = false` stops after the drain (the single-core
    * reference). */
  def cdc(ctx: Ctx, seconds: Double, phase2: Boolean = true, setups: Int = 3): Pass = {
    val gen = new PgGen(ctx.seed, cdc = true)
    val initial = gen.initial(CdcInitialRows)
    val state = initial.copyOf
    val cfg = config(65536L)
    val limit = cfg.peekChangesLimit.toInt
    val wb = new WalBuilder
    // the backlog fits one peek; the queue table sees only deletes before
    // its TRUNCATE, so no peek can resurrect truncated rows
    val truncateAt = (BacklogEvents * 0.6).toInt
    gen.stream(state, BacklogEvents, wb, None, truncateAt = Some(truncateAt), quietFrames = truncateAt)
    val openEvents = if (phase2) (ctx.offeredRate * seconds).toInt + 1 else 0
    gen.stream(state, openEvents, wb, Some(ctx.offeredRate), None, 0)
    val wal = wb.result()
    val tr = ctx.tracer

    // the first throwaway set-up also drains a small backlog of its own, so
    // the measured drain does not pay the sync path's JIT and query
    // compilation
    val warmWal = {
      val w = new PgGen(ctx.seed + 1, cdc = true)
      val b = new WalBuilder
      w.stream(w.initial(CdcInitialRows), WarmUpEvents, b, None, None, 0)
      b.result()
    }
    val throwaway = (1 until setups).map { i =>
      val src = new ScriptedPg(gen.tables, initial, if (i == 1) warmWal else emptyWal, Pub, Slot, limit, tr)
      offsetFile.delete()
      val t0 = System.nanoTime()
      runPipe(ctx, cfg, src, new TargetLog)
      (src.firstPeekNs - t0) / 1e9
    }
    val log = new TargetLog
    val src = new ScriptedPg(gen.tables, initial, wal, Pub, Slot, limit, tr)
    offsetFile.delete()
    Main.settle()
    val t0 = System.nanoTime()
    var phase1Failed = false
    try runPipe(ctx, cfg, src, log)
    catch { case e: Exception => phase1Failed = true; Main.warn(s"pg_cdc phase 1 failed: $e") }
    val setupS = throwaway :+ (src.firstPeekNs - t0) / 1e9
    val drainS = (src.lastAdvanceNs - src.firstPeekNs) / 1e9
    val drainEvents = src.backlogEventsCovered
    val drainRate = if (phase1Failed || drainS <= 0) 0.0 else drainEvents / drainS
    val phase1Iterations = src.peeks
    // every sync iteration peeks once; all but the final empty peek should
    // have advanced the slot, so extra peeks are retried iterations
    val phase1Retried = math.max(0L, phase1Iterations - 1 - src.peekFrames.count(_ > 0))
    val statementsPhase1 = log.statements.size

    // phase 2: the open loop, one op per non-empty sync iteration
    final case class Iter(op: OpRecord, events: Long, statements: Int, executeS: Double)
    val iters = ArrayBuffer.empty[Iter]
    var phase2Iterations = 0L
    var phase2Failed = 0L
    var phase2Frames = (0, 0)
    if (phase2 && !phase1Failed) {
      val relations = gen.tables.map(t => PgRelation(t.relId, t.name, t.cols.map(_.name)))
      val source = new PgOutputJdbcSource(src, Slot, Pub, relations, () => ctx.spark.emptyDataFrame)(ctx.spark)
      val routed = new CdcSource {
        def snapshot(): DataFrame = ctx.spark.emptyDataFrame
        def peekChanges(after: Long, limit: Long): DataFrame =
          PgOutputJdbcSource.multiTableSlices(source.peekChanges(after, limit), relations)
      }
      val tables = gen.tables.map { t =>
        val client = new RecordingCh(log, tr)
        val cols = columns(t)
        val sink = new StatementSink(Database, t.name, cols, client.execute, Set.empty,
          cfg.copyBatchSize, ClickHouseDialect, insertExec = None)(ctx.spark)
        t.name -> TableSpec(cols, sink.asBatchSink(() => client
          .queryScalar(ClickHouseDialect.nonEmptyProbe(Database, t.name))
          .exists(SqlDialect.truthy)), t.cols.filter(_.masked).map(_.name).toSet)
      }.toMap
      val offsets = new FileOffsetStore(offsetFile.getPath) {
        override def write(offset: Long): Unit = { super.write(offset); source.advance(offset) }
      }
      val pipe = new MultiTablePipe(cfg, routed, tables, offsets)(ctx.spark)
      val framesBefore = src.coveredFrames
      val end = src.firstPeekNs + ((math.max(seconds - drainS, seconds * 0.4) + drainS) * 1e9).toLong
      src.startOpenLoop()
      def iterate(): Long = {
        val s0 = log.statements.size
        val e0 = log.executeNanos
        val op = PeekOp + src.peeks
        tr.active = tr.enabled && iters.size % 2 == 0
        phase2Iterations += 1
        val t = System.nanoTime()
        try {
          val n = tr.span("pipe", "syncOnce")(pipe.syncOnce())
          if (n > 0) iters += Iter(OpRecord(op, t, System.nanoTime(), tr.active, ok = true), n,
            log.statements.size - s0, (log.executeNanos - e0) / 1e9)
          n
        } catch { case e: Exception =>
          phase2Failed += 1; Main.warn(s"pg_cdc sync iteration failed: $e"); -1L
        }
      }
      while (System.nanoTime() < end) {
        if (iterate() == 0L) Thread.sleep(1)
      }
      // the offer ends at the last peek: every event due by then was
      // either committed by that iteration or is counted uncommitted
      src.freeze(src.lastPeekNs)
      tr.active = tr.enabled
      phase2Frames = (framesBefore, src.coveredFrames)
    }

    val lags = src.lagSeconds.toSeq ++ Seq.fill(src.uncommittedDue)(Double.PositiveInfinity)
    val expected = gen.replay(initial, src.eventsCovered)
    val fold = new ChFold
    val foldErrors = try { log.statements.foreach(fold(_)); Nil }
      catch { case e: Exception => Seq(s"target statement rejected: ${e.getMessage}") }
    val mismatches = foldErrors ++ ChFold.compare(fold, expected) ++
      (if (phase1Failed) Seq("phase 1 drain failed") else Nil)
    val lagP50 = if (lags.isEmpty) Double.NaN else Stats.percentile(lags, 0.5)
    val lagP99 = if (lags.isEmpty) Double.NaN else Stats.percentile(lags, 0.99)
    val upsertsPeeked = src.upserts(phase2Frames._1, phase2Frames._2)
    val phase2Rows = {
      val f = new ChFold
      log.statements.iterator.drop(statementsPhase1).filter(_.startsWith("INSERT")).foreach(f(_))
      f.inserted
    }
    val traced = iters.filter(_.op.traced).toSeq
    def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    Pass("pg_cdc",
      setupS = setupS,
      rate = drainRate,
      latencies = lags,
      attempted = phase1Iterations + phase2Iterations + log.statements.size,
      failed = phase1Retried + phase2Failed + (if (phase1Failed) 1 else 0),
      mismatches = mismatches,
      named = Seq(
        ("cdc_drain_events_per_s", drainRate, "1/s"),
        ("cdc_drain_s", drainS, "s"),
        ("cdc_backlog_events", drainEvents.toDouble, "count")) ++ (if (!phase2) Nil else Seq(
        ("cdc_lag_p50_ms", lagP50 * 1e3, "ms"),
        ("cdc_lag_p99_ms", lagP99 * 1e3, "ms"),
        ("cdc_offered_events_per_s", ctx.offeredRate, "1/s"),
        ("cdc_open_loop_events", src.lagSeconds.size.toDouble, "count"),
        ("cdc_open_loop_iterations", phase2Iterations.toDouble, "count"))),
      ops = iters.map(_.op).toSeq,
      layers = if (traced.isEmpty) Map.empty else Map(
        "pipe.drain_s" -> drainS,
        "pipe.iteration_s" -> med(traced.map(_.op.seconds)),
        "pipe.events_per_iteration" -> med(traced.map(_.events.toDouble)),
        "pipe.jobs_per_iteration" -> med(traced.map(i => tr.jobsOf(i.op.op).size.toDouble)),
        "pipe.driver_gap_s" -> med(traced.map(i => tr.driverGapSeconds(i.op.op, i.op.start, i.op.end))),
        "pipe.shuffle_bytes_per_iteration" -> med(traced.map(i => tr.shuffleBytes(i.op.op).toDouble)),
        "live.peek_s" -> med(src.peekSeconds.zip(src.peekFrames).filter(_._2 > 0).map(_._1).toSeq),
        "ops.dedup_kept_ratio" -> (if (upsertsPeeked == 0) Double.NaN else phase2Rows.toDouble / upsertsPeeked),
        "sinks.statements" -> med(traced.map(_.statements.toDouble)),
        "sinks.execute_s" -> med(traced.map(_.executeS))))
  }
}
