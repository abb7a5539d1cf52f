package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import graft.live.{JdbcClient, JdbcConnInfo}
import graft.sources.CatalogSql

/** Scripted Postgres source behind the pipe's source-client seam. It
  * answers exactly the catalog SQL the pipe issues, serves the initial
  * table contents through `COPY … TO STDOUT` one row per chunk (as
  * pgjdbc's `readFromCopy` does), and serves the generated WAL through
  * the non-consuming peek, advanced only by `pg_replication_slot_advance`.
  * Any other statement is an error.
  *
  * Open-loop mode: once [[startOpenLoop]] is called, the peek exposes only
  * transactions whose due time has passed, so the offered schedule never
  * waits for the pipe. Each advance stamps the lag of every event it
  * covers. */
final class ScriptedPg(tables: Seq[PgTable], initial: SourceState, wal: Wal,
    pub: String, slot: String, peekLimit: Long, tracer: Tracer)
    extends JdbcClient(JdbcConnInfo("jdbc:graftbench:source")) {

  private var published: Set[(String, String)] = Set.empty
  private var slotExists = false
  private var advancedTo = 0L
  private var covered = 0
  private var openLoopStart: Long = Long.MaxValue

  /** Lag samples (seconds) of open-loop events, in advance order. */
  val lagSeconds = ArrayBuffer.empty[Double]
  var backlogEventsCovered = 0L
  var lastAdvanceNs = 0L
  var peeks = 0L
  var copyBytes = 0L
  var copyNanos = 0L
  var executes = 0
  var firstPeekNs = 0L
  var lastPeekNs = 0L
  /** Answer time (s) of each peek, and how many frames it returned. */
  val peekSeconds = ArrayBuffer.empty[Double]
  val peekFrames = ArrayBuffer.empty[Int]
  private var freezeNs = Long.MaxValue

  private val lsnText = wal.lsn.map(l => f"${l >>> 32}%X/${l & 0xFFFFFFFFL}%X")
  private val peekSql = CatalogSql.pgPeekChanges(slot, pub, peekLimit)
  private val copyLines: Map[String, Array[Array[Byte]]] = tables.map { t =>
    JdbcClient.copySql(t.qualified, t.cols.map(_.name)) ->
      initial.rows(t.name).values.map(PgGen.copyLine).toArray
  }.toMap

  def startOpenLoop(): Unit = openLoopStart = System.nanoTime()
  /** Stops exposing transactions due after `at` (a `System.nanoTime`). */
  def freeze(at: Long): Unit = freezeNs = at - openLoopStart
  /** Change frames (I/U/D/T) the slot has advanced past. */
  def eventsCovered: Int = (0 until covered).count(wal.isEvent)
  /** Upsert (I/U) frames in the WAL index range [from, to). */
  def upserts(from: Int, to: Int): Int = (from until to).count(i => "IU".indexOf(wal.data(i)(0).toChar) >= 0)
  def coveredFrames: Int = covered
  /** Open-loop events that were due by the freeze point but never committed. */
  def uncommittedDue: Int = (covered until wal.size).count(i =>
    wal.isEvent(i) && wal.dueNs(i) != Long.MinValue && wal.dueNs(i) <= freezeNs)

  override def ping(): Boolean = true
  override def close(): Unit = ()

  private def row(schema: StructType, v: Any*): Row = new GenericRowWithSchema(v.toArray, schema)
  private val oneCol = StructType(Seq(StructField("c", StringType)))

  override def query(sql: String): (StructType, Vector[Row]) = tracer.span("live", "source.query") {
    if (sql == peekSql) peek()
    else tables.collectFirst {
      case t if sql == CatalogSql.pgColumns("public", t.name) =>
        val s = StructType(Seq(StructField("column_name", StringType), StructField("udt_name", StringType),
          StructField("is_nullable", BooleanType), StructField("ordinal_position", IntegerType),
          StructField("is_primary_key", BooleanType), StructField("comment", StringType)))
        (s, t.cols.zipWithIndex.map { case (c, i) => row(s, c.name, c.udt, !c.pk, i + 1, c.pk, "") })
      case t if sql == CatalogSql.pgRelationIds("public", Seq(t.name)) =>
        val s = StructType(Seq(StructField("oid", LongType), StructField("nspname", StringType),
          StructField("relname", StringType)))
        (s, Vector(row(s, t.relId, "public", t.name)))
      case t if sql == CatalogSql.pgTableComment("public", t.name) =>
        (oneCol, Vector(row(oneCol, s"generated ${t.name}")))
    }.getOrElse {
      if (sql == CatalogSql.pgFindPublication(pub))
        (oneCol, if (published.nonEmpty) Vector(row(oneCol, pub)) else Vector.empty)
      else if (sql == CatalogSql.pgPublicationTables(pub)) {
        val s = StructType(Seq(StructField("schema_name", StringType), StructField("table_name", StringType)))
        (s, published.toVector.map { case (a, b) => row(s, a, b) })
      } else if (sql == CatalogSql.pgFindSlot(slot))
        (oneCol, if (slotExists) Vector(row(oneCol, slot)) else Vector.empty)
      else throw new IllegalArgumentException(s"unexpected source SQL: ${sql.take(160)}")
    }
  }

  private val peekSchema = StructType(Seq(StructField("lsn", StringType),
    StructField("xid", LongType), StructField("data", BinaryType)))

  /** Frames above the confirmed LSN, at most `peekLimit` of them rounded
    * up to a whole transaction, as `pg_logical_slot_peek_binary_changes`
    * returns them. */
  private def peek(): (StructType, Vector[Row]) = {
    val t0 = System.nanoTime()
    if (firstPeekNs == 0L) firstPeekNs = t0
    lastPeekNs = t0
    tracer.setOp(PgBench.PeekOp + peeks)
    val from = upperBound(wal.lsn, advancedTo)
    val visible =
      if (openLoopStart == Long.MaxValue) upperBound(wal.dueNs, Long.MinValue)
      else upperBound(wal.dueNs, math.min(t0 - openLoopStart, freezeNs))
    var to = math.min(visible, from + peekLimit.toInt)
    if (to > from && to < visible) to = wal.txnEnd(to - 1) + 1
    val out = (from until math.max(from, to)).iterator
      .map(i => row(peekSchema, lsnText(i), 0L, wal.data(i))).toVector
    val dt = System.nanoTime() - t0
    peeks += 1
    peekSeconds += dt / 1e9; peekFrames += out.size
    (peekSchema, out)
  }

  private def upperBound(a: Array[Long], v: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) <= v) lo = m + 1 else hi = m }
    lo
  }

  override def execute(sql: String): Unit = tracer.span("live", "source.execute") {
    executes += 1
    def parse(list: String) = list.split(",").map(_.trim.split('.')).map(a => (a(0), a(1))).toSet
    val create = s"CREATE PUBLICATION $pub FOR TABLE "
    val alter = s"ALTER PUBLICATION $pub ADD TABLE "
    if (sql.startsWith(create)) published = parse(sql.stripPrefix(create))
    else if (sql.startsWith(alter)) published ++= parse(sql.stripPrefix(alter))
    else if (sql == CatalogSql.pgCreateSlot(slot)) slotExists = true
    else if (sql.startsWith(s"SELECT pg_replication_slot_advance('$slot', '")) {
      val now = System.nanoTime()
      val lsn = graft.live.PgLsn.toLong(sql.split('\'')(3))
      require(lsn >= advancedTo, s"slot moved backwards: $lsn < $advancedTo")
      advancedTo = lsn
      val upTo = upperBound(wal.lsn, lsn)
      while (covered < upTo) {
        if (wal.isEvent(covered)) {
          if (wal.dueNs(covered) == Long.MinValue) backlogEventsCovered += 1
          else lagSeconds += (now - openLoopStart - wal.dueNs(covered)) / 1e9
        }
        covered += 1
      }
      lastAdvanceNs = now
    } else throw new IllegalArgumentException(s"unexpected source statement: ${sql.take(160)}")
  }

  override protected def copyOutSql(sql: String): Option[JdbcClient.CopyStream] =
    copyLines.get(sql).map { lines =>
      val it = new Iterator[Array[Byte]] {
        private var i = 0
        private var started = 0L
        def hasNext: Boolean = {
          if (started == 0L) started = System.nanoTime()
          val more = i < lines.length
          if (!more && started > 0L) { copyNanos += System.nanoTime() - started; started = -1L }
          more
        }
        def next(): Array[Byte] = { val l = lines(i); i += 1; copyBytes += l.length; l }
      }
      new JdbcClient.CopyStream(it, () => ())
    }.orElse(throw new IllegalArgumentException(s"unexpected COPY: ${sql.take(160)}"))
}

/** What the recording ClickHouse target saw, shared by the per-table
  * clients the pipe opens. */
final class TargetLog {
  val statements = ArrayBuffer.empty[String]
  val nonEmpty = mutable.Set.empty[String]
  var executeNanos = 0L
  var firstProbeNs = 0L
  var statementsAtFirstProbe = 0
}

/** Recording ClickHouse target behind the pipe's target-client seam:
  * `execute` appends the statement; the emptiness probe answers from the
  * recorded INSERT/TRUNCATE sequence; the target starts with no tables. */
final class RecordingCh(log: TargetLog, tracer: Tracer)
    extends JdbcClient(JdbcConnInfo("jdbc:graftbench:target")) {
  override def ping(): Boolean = true
  override def close(): Unit = ()
  override def columnsOf(database: Option[String], table: String): Seq[(String, DataType, Boolean)] = Seq.empty

  override def execute(sql: String): Unit = tracer.span("sinks", "target.execute") {
    val t0 = System.nanoTime()
    log.statements += sql
    if (sql.startsWith("INSERT INTO ")) log.nonEmpty += sql.substring(12, sql.indexOf(' ', 12))
    else if (sql.startsWith("TRUNCATE TABLE ")) log.nonEmpty -= sql.substring(15).trim
    log.executeNanos += System.nanoTime() - t0
  }

  override def query(sql: String): (StructType, Vector[Row]) = {
    if (log.firstProbeNs == 0L) { log.firstProbeNs = System.nanoTime(); log.statementsAtFirstProbe = log.statements.size }
    val probe = "select exists(select 1 from "
    require(sql.startsWith(probe) && sql.endsWith(")"), s"unexpected target query: ${sql.take(160)}")
    val t = sql.substring(probe.length, sql.length - 1)
    val s = StructType(Seq(StructField("e", IntegerType)))
    (s, Vector(new GenericRowWithSchema(Array[Any](if (log.nonEmpty(t)) 1 else 0), s)))
  }
}
