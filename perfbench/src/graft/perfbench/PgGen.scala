package graft.perfbench

import java.nio.charset.StandardCharsets
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import graft.decode.{PgOutputEncoder, PgValue}

/** One source column: Postgres `udt_name`, primary-key and mask flags.
  * `cdcSafe` marks the types whose pgoutput text the sync loop renders
  * unchanged (see [[PgGen.tables]]). */
final case class PgCol(name: String, udt: String, pk: Boolean = false,
    masked: Boolean = false, cdcSafe: Boolean = true)

final case class PgTable(name: String, relId: Long, cols: Vector[PgCol]) {
  def qualified: String = s"public.$name"
}

/** The generated source world: table contents as Postgres text (one
  * `Option[String]` per column, `None` = NULL), keyed by the int8 id. */
final class SourceState(val tables: Seq[PgTable]) {
  def apply(m: Mut): Unit =
    if (m.truncate) rows(m.table).clear()
    else if (m.row == null) rows(m.table).remove(m.key)
    else rows(m.table)(m.key) = m.row

  val rows: Map[String, mutable.LinkedHashMap[Long, Array[Option[String]]]] =
    tables.map(t => t.name -> mutable.LinkedHashMap.empty[Long, Array[Option[String]]]).toMap
  def copyOf: SourceState = {
    val c = new SourceState(tables)
    rows.foreach { case (t, m) => m.foreach { case (k, v) => c.rows(t)(k) = v.clone() } }
    c
  }
}

/** One change as the source applied it: a new row image, a delete
  * (`row == null`) or a TRUNCATE of `table`. */
final case class Mut(table: String, key: Long, row: Array[Option[String]], truncate: Boolean = false)

/** The pgoutput write-ahead log the scripted source serves: frames in LSN
  * order, each with the index of its transaction's Commit frame and the
  * time (ns after the open-loop start) its transaction is due; backlog
  * frames are due at `Long.MinValue`, i.e. visible from the start. */
final class Wal(val lsn: Array[Long], val data: Array[Array[Byte]],
    val txnEnd: Array[Int], val dueNs: Array[Long], val isEvent: Array[Boolean]) {
  def size: Int = lsn.length
  def events: Int = isEvent.count(identity)
}

/** Seeded generator for the three Postgres source tables and their
  * change stream. Everything a run replays, and the ground truth it is
  * checked against, comes from here. */
final class PgGen(seed: Long, cdc: Boolean) {
  private val rng = new Random(seed)
  val tables: Seq[PgTable] = PgGen.tables(cdc)
  private val byName = tables.map(t => t.name -> t).toMap
  /** Every change [[stream]] generated, in commit order: one per change
    * frame of the WAL, so a prefix replays the source to any commit. */
  val muts = ArrayBuffer.empty[Mut]

  private val words = Vector.fill(4000)(PgGen.word(rng))
  private def text(n: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      val r = rng.nextInt(100)
      // escapes the COPY and SQL encoders must round-trip
      if (r == 0) sb.append("tab\there")
      else if (r == 1) sb.append("line\nbreak")
      else if (r == 2) sb.append("back\\slash")
      else if (r == 3) sb.append("it's")
      else if (r == 4) sb.append("\"quoted\"")
      else if (r == 5) sb.append("crème brûlée")
      else if (r == 6) sb.append("cr\rlf")
      else sb.append(words(rng.nextInt(words.size)))
      i += 1
    }
    sb.toString
  }
  private def timestamp(fraction: Boolean): String = {
    val base = f"20${10 + rng.nextInt(15)}%02d-${1 + rng.nextInt(12)}%02d-${1 + rng.nextInt(28)}%02d " +
      f"${rng.nextInt(24)}%02d:${rng.nextInt(60)}%02d:${rng.nextInt(60)}%02d"
    if (fraction && rng.nextBoolean()) base + f".${rng.nextInt(1000000)}%06d" else base
  }

  /** Postgres text output for one value of `c` (never the PK). */
  def value(c: PgCol): Option[String] =
    if (!c.udt.startsWith("_") && rng.nextInt(20) == 0) None
    else Some(c.udt match {
      case "int8" => (rng.nextLong() % 1000000000000L).toString
      case "int4" => (rng.nextInt(2000000000) - 1000000000).toString
      case "int2" => (rng.nextInt(60000) - 30000).toString
      case "float8" => BigDecimal(rng.nextInt(20000000) - 10000000, 2).bigDecimal.stripTrailingZeros.toPlainString
      case "float4" => BigDecimal(rng.nextInt(8000) - 4000, 2).*(BigDecimal(25)).bigDecimal.stripTrailingZeros.toPlainString
      case "numeric" => BigDecimal(rng.nextLong() % 100000000000L, 4).toString
      case "bool" => if (rng.nextBoolean()) "t" else "f"
      case "date" => f"20${rng.nextInt(30)}%02d-${1 + rng.nextInt(12)}%02d-${1 + rng.nextInt(28)}%02d"
      case "timestamp" => timestamp(fraction = !cdc)
      case "timestamptz" => timestamp(fraction = true) + "+00"
      case "_text" => // every element needs quoting, so Postgres quotes them all
        Vector.fill(1 + rng.nextInt(4))(s"tag ${rng.nextInt(500)}").map(e => "\"" + e + "\"").mkString("{", ",", "}")
      case "_int8" => Vector.fill(rng.nextInt(5))(rng.nextInt(100000) - 50000).mkString("{", ",", "}")
      case "varchar" => s"SKU-${rng.nextInt(1000000)}"
      case _ if c.name == "body" => text(60 + rng.nextInt(120))
      case _ => text(2 + rng.nextInt(8))
    })

  def row(t: PgTable, id: Long): Array[Option[String]] =
    t.cols.map(c => if (c.pk) Some(id.toString) else value(c)).toArray

  /** Initial source contents: `sizes` rows per table, ids 1..n. */
  def initial(sizes: Map[String, Int]): SourceState = {
    val s = new SourceState(tables)
    tables.foreach { t => (1 to sizes(t.name)).foreach(i => s.rows(t.name)(i.toLong) = row(t, i.toLong)) }
    s
  }

  // ------------------------------------------------------------ stream

  private var nextLsn = 0x16B374D8L
  private var nextId = 10000000L

  /** Appends transactions to `out`, mutating `state` exactly as the
    * source database would. `events` DML changes are generated; when
    * `dueEventsPerSec` is set, each transaction is due when its last
    * event is, at that offered rate from time 0; otherwise it is
    * backlog. `truncateAt` (an event index) places one TRUNCATE of the
    * queue table, preceded by `quietFrames` frames without queue upserts
    * so no peek can mix the truncated rows with their replacements. */
  def stream(state: SourceState, events: Int, out: WalBuilder,
      dueEventsPerSec: Option[Double], truncateAt: Option[Int], quietFrames: Int): Unit = {
    val hot = byName("hot_counters"); val wide = byName("wide_items"); val queue = byName("event_queue")
    val hotKeys = ArrayBuffer.from(state.rows(hot.name).keys)
    val wideKeys = ArrayBuffer.from(state.rows(wide.name).keys)
    val queueKeys = mutable.ArrayDeque.from(state.rows(queue.name).keys)
    val zipf = PgGen.zipfCdf(hotKeys.size, 1.1)
    var emitted = 0
    val quietFrom = truncateAt.map(_ - quietFrames).getOrElse(Int.MaxValue)
    var truncated = false
    def due: Long = dueEventsPerSec.map(r => (emitted / r * 1e9).toLong).getOrElse(Long.MinValue)
    while (emitted < events) {
      if (!truncated && truncateAt.exists(emitted >= _)) {
        truncated = true
        out.txn(Seq(PgOutputEncoder.truncate(Seq(queue.relId))), due, nextLsnStep())
        val m = Mut(queue.name, -1L, null, truncate = true)
        state(m); muts += m; queueKeys.clear()
      } else {
        val size = 1 + rng.nextInt(1 + rng.nextInt(24))
        val frames = ArrayBuffer.empty[Array[Byte]]
        var i = 0
        while (i < size && emitted < events) {
          val quiet = emitted >= quietFrom && !truncated
          val r = rng.nextInt(100)
          val frame =
            if (r < 55) { // narrow hot table: Zipf-skewed updates, some inserts
              if (rng.nextInt(100) < 85 && hotKeys.nonEmpty) {
                val k = if (rng.nextInt(10) == 0) hotKeys(rng.nextInt(hotKeys.size))
                  else hotKeys(math.min(hotKeys.size - 1, PgGen.draw(zipf, rng)))
                update(state, hot, k, toast = false)
              } else { val k = fresh(); hotKeys += k; insert(state, hot, k) }
            } else if (r < 80) { // wide table: inserts, TOAST-unchanged updates, deletes
              val q = rng.nextInt(100)
              if (q < 40 || wideKeys.isEmpty) { val k = fresh(); wideKeys += k; insert(state, wide, k) }
              else if (q < 85) update(state, wide, wideKeys(rng.nextInt(wideKeys.size)), toast = rng.nextBoolean())
              else {
                val j = rng.nextInt(wideKeys.size)
                val k = wideKeys(j); wideKeys(j) = wideKeys.last; wideKeys.dropRightInPlace(1)
                delete(state, wide, k)
              }
            } else { // delete-heavy queue
              val q = rng.nextInt(100)
              if (q < 45 && queueKeys.nonEmpty) delete(state, queue, queueKeys.removeHead())
              else if (quiet) update(state, hot, hotKeys(rng.nextInt(hotKeys.size)), toast = false)
              else if (q < 95 || queueKeys.isEmpty) { val k = fresh(); queueKeys += k; insert(state, queue, k) }
              else update(state, queue, queueKeys(rng.nextInt(queueKeys.size)), toast = false)
            }
          frames += frame
          emitted += 1
          i += 1
        }
        out.txn(frames.toSeq, due, nextLsnStep())
      }
    }
  }

  private def record(s: SourceState, m: Mut): Unit = { s(m); muts += m }

  /** The source as of the first `n` changes after `initial`. */
  def replay(initial: SourceState, n: Int): SourceState = {
    val s = initial.copyOf
    muts.iterator.take(n).foreach(s(_))
    s
  }

  private def nextLsnStep(): () => Long = () => { nextLsn += 1 + rng.nextInt(120); nextLsn }
  private def fresh(): Long = { nextId += 1 + rng.nextInt(3); nextId }
  private def text(v: Array[Option[String]]): Seq[PgValue] =
    v.toSeq.map(_.fold[PgValue](PgValue.Null)(PgValue.Text(_)))

  private def insert(s: SourceState, t: PgTable, k: Long): Array[Byte] = {
    val r = row(t, k); record(s, Mut(t.name, k, r))
    PgOutputEncoder.insert(t.relId, text(r))
  }
  private def update(s: SourceState, t: PgTable, k: Long, toast: Boolean): Array[Byte] = {
    val old = s.rows(t.name)(k)
    val fresh = row(t, k)
    val toastIdx = t.cols.indexWhere(_.name == "body")
    if (toast && toastIdx >= 0) {
      // unchanged TOASTed value: 'u' in the new tuple, resolved from the
      // full old tuple (REPLICA IDENTITY FULL)
      fresh(toastIdx) = old(toastIdx)
      record(s, Mut(t.name, k, fresh))
      PgOutputEncoder.update(t.relId,
        text(fresh).updated(toastIdx, PgValue.Unchanged), Some(text(old)), 'O')
    } else {
      record(s, Mut(t.name, k, fresh))
      PgOutputEncoder.update(t.relId, text(fresh))
    }
  }
  private def delete(s: SourceState, t: PgTable, k: Long): Array[Byte] = {
    record(s, Mut(t.name, k, null))
    PgOutputEncoder.delete(t.relId, PgValue.Text(k.toString) +: Seq.fill(t.cols.size - 1)(PgValue.Null))
  }
}

/** Accumulates transactions (Begin, changes, Commit) into a [[Wal]]. */
final class WalBuilder {
  private val lsn = ArrayBuffer.empty[Long]
  private val data = ArrayBuffer.empty[Array[Byte]]
  private val txnEnd = ArrayBuffer.empty[Int]
  private val due = ArrayBuffer.empty[Long]
  private val isEvent = ArrayBuffer.empty[Boolean]
  private var relationsSent = false

  def txn(changes: Seq[Array[Byte]], dueNs: Long, nextLsn: () => Long): Unit = {
    val frames = (if (relationsSent) Nil else Seq(PgOutputEncoder.skipped('R'))) ++
      (PgOutputEncoder.skipped('B') +: changes :+ PgOutputEncoder.skipped('C'))
    relationsSent = true
    val end = data.size + frames.size - 1
    frames.foreach { f =>
      lsn += nextLsn(); data += f; txnEnd += end; due += dueNs
      isEvent += "IUDT".indexOf(f(0).toChar) >= 0
    }
  }

  def result(): Wal = new Wal(lsn.toArray, data.toArray, txnEnd.toArray, due.toArray, isEvent.toArray)
}

object PgGen {
  /** The three source tables. The snapshot workload uses every column;
    * the CDC workload keeps the `cdcSafe` ones, because the sync loop
    * renders pgoutput text without the snapshot's casts: bool and array
    * text fail to render, and fractional or zoned timestamps render
    * differently from their snapshot form. */
  def tables(cdc: Boolean): Seq[PgTable] = Seq(
    PgTable("hot_counters", 16401L, Vector(
      PgCol("id", "int8", pk = true), PgCol("hits", "int8"), PgCol("score", "float8"),
      PgCol("label", "text"), PgCol("touched", "timestamp"))),
    PgTable("wide_items", 16402L, Vector(
      PgCol("id", "int8", pk = true), PgCol("sku", "varchar"), PgCol("title", "text"),
      PgCol("body", "text"), PgCol("price", "numeric"), PgCol("qty", "int4"),
      PgCol("small", "int2"), PgCol("weight", "float4"),
      PgCol("active", "bool", cdcSafe = false), PgCol("tags", "_text", cdcSafe = false),
      PgCol("dims", "_int8", cdcSafe = false), PgCol("born", "date"),
      PgCol("seen", "timestamptz", cdcSafe = false), PgCol("secret", "text", masked = true))),
    PgTable("event_queue", 16403L, Vector(
      PgCol("id", "int8", pk = true), PgCol("kind", "text"), PgCol("amount", "float8"),
      PgCol("at", "timestamp")))
  ).map(t => if (cdc) t.copy(cols = t.cols.filter(_.cdcSafe)) else t)

  def word(rng: Random): String =
    Vector.fill(3 + rng.nextInt(7))(('a' + rng.nextInt(26)).toChar).mkString

  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(math.max(1, n))(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def draw(cdf: Array[Double], rng: Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    if (i >= 0) i else math.min(cdf.length - 1, -i - 1)
  }

  /** Postgres COPY text format for one row: tab-separated, `\N` NULL,
    * backslash escapes for backslash, tab, newline and carriage return. */
  def copyLine(r: Array[Option[String]]): Array[Byte] = {
    val sb = new StringBuilder
    r.indices.foreach { i =>
      if (i > 0) sb.append('\t')
      r(i) match {
        case None => sb.append("\\N")
        case Some(v) => v.foreach {
          case '\\' => sb.append("\\\\")
          case '\t' => sb.append("\\t")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case ch => sb.append(ch)
        }
      }
    }
    sb.append('\n')
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  /** Canonical form of the value ClickHouse should hold for source text
    * `raw` in column `c`, after the pipe's documented casts and masking:
    * numbers compare by value, timestamps at second precision without
    * zone, NULL arrays as empty arrays. Matches [[ChFold.canon]]. */
  def expected(c: PgCol, raw: Option[String]): String =
    if (c.masked) null
    else (c.udt, raw) match {
      case (u, None) if u.startsWith("_") => "A:[]"
      case (_, None) => null
      case ("int8" | "int4" | "int2" | "float8" | "float4" | "numeric", Some(v)) => ChFold.num(v)
      case ("bool", Some(v)) => s"B:${v == "t"}"
      case ("date", Some(v)) => s"D:$v"
      case ("timestamp" | "timestamptz", Some(v)) => s"T:${v.takeWhile(ch => ch != '.' && ch != '+')}"
      case ("_text", Some(v)) =>
        v.stripPrefix("{").stripSuffix("}").split(",").map(e => "S:" + e.stripPrefix("\"").stripSuffix("\""))
          .mkString("A:[", ",", "]")
      case ("_int8", Some(v)) =>
        val inner = v.stripPrefix("{").stripSuffix("}")
        if (inner.isEmpty) "A:[]" else inner.split(",").map(ChFold.num).mkString("A:[", ",", "]")
      case (_, Some(v)) => s"S:$v"
    }
}
