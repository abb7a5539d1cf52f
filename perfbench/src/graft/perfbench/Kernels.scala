package graft.perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, element_at, max}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.decode.{CopyText, PgOutputDecoder}
import graft.functions.GraftFunctions
import graft.sinks.ClickHouseSql

/** Kernel rates on cached, generated inputs (traced run only): each is
  * the median of three timed repetitions, reported as rows per second
  * with the input size. */
object Kernels {
  final case class Rate(metric: String, rowsPerS: Double, rows: Long, bytes: Long)

  private def timed(reps: Int)(f: => Unit): Double =
    Stats.median((1 to reps).map { _ => val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 })

  def run(ctx: Ctx): Seq[Rate] = {
    val spark = ctx.spark
    // pgoutput frames of a generated change stream, decoded on the driver
    val gen = new PgGen(ctx.seed, cdc = true)
    val state = gen.initial(Map("hot_counters" -> 2000, "wide_items" -> 1000, "event_queue" -> 1000))
    val wb = new WalBuilder
    gen.stream(state, 100000, wb, None, None, 0)
    val frames = wb.result().data
    val decodeS = timed(3) { var n = 0; frames.foreach(f => if (PgOutputDecoder.decode(f).isDefined) n += 1) }

    // COPY text rows, one chunk per row as pgjdbc delivers them
    val snap = new PgGen(ctx.seed, cdc = false)
    val wide = snap.tables.find(_.name == "wide_items").get
    val rows = (1 to 20000).map(i => snap.row(wide, i.toLong))
    val lines = rows.map(PgGen.copyLine).toArray
    val copyS = timed(3) { val p = new CopyText.Parser; var n = 0; lines.foreach(l => n += p.feed(l).size); n += p.finish().size }

    // INSERT rendering over a cached typed frame of the same rows
    val cols = wide.cols.map(c => graft.types.CHColumn(c.name,
      graft.types.CHType.fromPgUdt(c.udt, nullable = !c.pk), isPrimaryKey = c.pk))
    val typed = graft.sources.CopySource.snapshot(spark, lines.iterator, cols).cache()
    val typedRows = typed.count()
    val renderS = timed(3) {
      ClickHouseSql.insertStatements(typed, "bench", "wide_items", cols, 1000).foreach(_ => ())
    }
    typed.unpersist()

    // hash kernels over cached documents
    val docGen = new CurateGen(ctx.seed, 20000, 1, 1000)
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val docs = spark.createDataFrame(docGen.prior.map { case (i, t) => Row(i, t) }.asJava, docSchema).cache()
    val nDocs = docs.count()
    val docBytes = docGen.prior.map(_._2.length.toLong).sum
    val fpS = timed(3) { docs.agg(max(GraftFunctions.fingerprint64(col("text")))).collect() }
    val mhS = timed(3) {
      docs.agg(max(element_at(GraftFunctions.minhashText(col("text"), 5, 64), 1))).collect()
    }
    docs.unpersist()

    Seq(
      Rate("decode.pgoutput_frames_per_s", frames.length / decodeS, frames.length, frames.map(_.length.toLong).sum),
      Rate("decode.copy_parse_rows_per_s", lines.length / copyS, lines.length, lines.map(_.length.toLong).sum),
      Rate("sinks.render_rows_per_s", typedRows / renderS, typedRows, 0L),
      Rate("functions.fingerprint64_rows_per_s", nDocs / fpS, nDocs, docBytes),
      Rate("functions.minhash_rows_per_s", nDocs / mhS, nDocs, docBytes))
  }
}
