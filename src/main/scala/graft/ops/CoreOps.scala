package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.types.{CHColumn, CHType}

/** The engine's relational operator layer: projection/alignment, masking,
  * the per-type cast planner, last-wins dedup, PK extraction, op routing,
  * and write counters — every data-touching transform the reference applies
  * between decode and sink (SURVEY.md §2.3/§2.4), expressed as Catalyst
  * built-ins so whole-stage codegen and pushdown apply.
  */
object CoreOps {

  /** Run two independent Spark actions concurrently from driver threads
    * (guide §2.6: actions are only sequential because driver code calls
    * them sequentially — each small job's task tail otherwise leaves the
    * executors idle). FIFO scheduling gives the back-fill behaviour
    * wanted; a failure on either side propagates after both complete,
    * and when both fail, `b`'s error rides `a`'s as a suppressed one.
    * Callers own the independence claim (disjoint output dirs, no
    * ordering contract between the two). */
  def inParallel(a: => Unit, b: => Unit): Unit = {
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val t = new Thread(() => try b catch { case e: Throwable => err.set(e) })
    t.setDaemon(true)
    t.start()
    try a
    catch {
      case e: Throwable =>
        t.join()
        Option(err.get()).filter(_ ne e).foreach(e.addSuppressed)
        throw e
    }
    t.join()
    Option(err.get()).foreach(throw _)
  }

  // ---------------------------------------------------------------------
  // P5/P6/P7/P9: scalar value semantics
  // ---------------------------------------------------------------------

  /** Matches Rust's `str::parse::<i64>` / `::<u64>` domain after trim:
    * optional sign, digits only (reference: `pgoutput.rs:82-89`).
    */
  private val IntTextPattern = "^[+-]?[0-9]+$"

  /** Text → integer with the reference's fallback: anything that does not
    * parse as a (signed or unsigned) 64-bit integer becomes 0, NOT null
    * (reference: `src/adapter/postgres/pgoutput.rs:82-89`).
    *
    * Known narrowing: the reference parses into u64, so text in
    * (Long.MaxValue, 2⁶⁴) would render for a UInt64 target there but
    * yields 0 here (try_cast to LongType overflows). PG's widest integer
    * is int8 = i64, so no Postgres-sourced value can occupy that range —
    * the narrowing is unreachable from the reference's own sources and is
    * kept for an order-independent signed representation.
    */
  def intOrZero(c: Column): Column = {
    val t = trim(c)
    // try_cast keeps this ANSI-mode-independent (Spark 4 defaults ANSI on):
    // malformed or overflowing text must yield the 0 default, never throw.
    when(t.rlike(IntTextPattern), coalesce(t.try_cast(LongType), lit(0L)))
      .otherwise(lit(0L))
  }

  /** Text → double with fallback 0.0 for non-parsing text
    * (reference: `pgoutput.rs:91-98`). Rust f64 parse accepts inf/nan and
    * scientific notation; Spark's cast-to-double covers the same inputs on
    * the values that occur in practice.
    */
  def realOrZero(c: Column): Column =
    coalesce(trim(c).try_cast(DoubleType), lit(0.0))

  /** Bool truth table: lowercase `t|1|true` → true, everything else
    * (including `f|0|false` and garbage) → false
    * (reference: `pgoutput.rs:157-163`).
    */
  def boolParse(c: Column): Column =
    coalesce(lower(c).isin("t", "1", "true"), lit(false))

  /** Datetime normalization: truncate at the first `.` (fractional seconds)
    * and the first `+` (timezone offset) — `2025-08-18 05:16:08.490845+00`
    * → `2025-08-18 05:16:08` (reference: `pgoutput.rs:220-234`).
    * String→string; the result feeds a timestamp/date cast.
    */
  def formatDateTimeText(c: Column): Column =
    substring_index(substring_index(c, ".", 1), "+", 1)

  /** Timestamp column truncated to second precision, the reference's
    * effective resolution for DateTime targets. */
  def toSecondPrecision(c: Column): Column = date_trunc("second", c)

  // ---------------------------------------------------------------------
  // P11/P12: PG array literal parsing
  // ---------------------------------------------------------------------

  /** `{...}` → inner text (strip one outer brace pair if both present)
    * (reference: `pgoutput.rs:183-193`). */
  def pgArrayInner(c: Column): Column =
    when(c.startsWith("{") && c.endsWith("}"), c.substr(lit(2), length(c) - 2))
      .otherwise(c)

  /** PG string-array literal → array<string>, with the reference's
    * (intentionally naive) algorithm: trim all leading/trailing `{`/`}`,
    * trim all leading/trailing `"`, split on the exact `","` delimiter —
    * quoted elements may contain commas; escaped quotes are not handled
    * (reference: `pgoutput.rs:195-201`, tests `:560-596`).
    */
  def parseStringArray(c: Column): Column = {
    val noBraces = regexp_replace(regexp_replace(c, "^[{}]+", ""), "[{}]+$", "")
    val noQuotes = regexp_replace(regexp_replace(noBraces, "^\"+", ""), "\"+$", "")
    split(noQuotes, "\",\"")
  }

  /** PG numeric-array literal → array<long> / array<double>: strip braces,
    * split on comma, cast each element (reference passes inner text through
    * to the sink: `pgoutput.rs:129-131`; the typed form is ours).
    */
  def parseNumericArray(c: Column, elementType: DataType): Column = {
    val inner = regexp_replace(regexp_replace(c, "^\\{", ""), "\\}$", "")
    // try_cast: ANSI-independent; '{}' yields an empty array, not a
    // single-element array of a failed cast
    when(length(trim(inner)) === 0, array().cast(ArrayType(elementType)))
      .otherwise(transform(split(inner, ","), e => trim(e).try_cast(elementType)))
  }

  // ---------------------------------------------------------------------
  // P14: target-type cast planner
  // ---------------------------------------------------------------------

  /** Plan the cast of one text-valued source column into its target type —
    * the Spark analogue of the per-column type dispatch in
    * `src/adapter/clickhouse.rs:126-158`. Null into a NON-nullable numeric
    * target renders as the type's default (0 / 0.0 / false / epoch), null
    * into a Nullable target stays null — exactly the reference's
    * short-circuit.
    */
  def castTextToTarget(c: Column, chType: CHType): Column = {
    val inner = chType.stripNullable
    val casted: Column = inner match {
      case CHType.Int8 | CHType.Int16 | CHType.Int32 | CHType.Int64 |
          CHType.Int128 | CHType.Int256 | CHType.UInt8 | CHType.UInt16 |
          CHType.UInt32 | CHType.UInt64 | CHType.UInt128 | CHType.UInt256 =>
        intOrZero(c).cast(CHType.toSparkType(inner))
      case CHType.Float32 | CHType.Float64 =>
        realOrZero(c).cast(CHType.toSparkType(inner))
      case CHType.CHDecimal =>
        coalesce(c.try_cast(DecimalType(38, 18)), lit(0).cast(DecimalType(38, 18)))
      case CHType.Bool =>
        boolParse(c)
      case CHType.CHStr | CHType.FixedString(_) | CHType.UUID | CHType.Unknown =>
        coalesce(c.cast(StringType), lit(""))
      // date/time/array branches carry the same null→default rule as the
      // numeric ones (the Nullable wrapper below restores NULL for
      // Nullable targets): a bare try_cast would leak NULL into a
      // non-nullable target, diverging from renderValue's epoch/[] text
      case CHType.CHDate | CHType.Date32 =>
        coalesce(formatDateTimeText(c).try_cast(DateType),
          lit("1970-01-01").cast(DateType))
      case CHType.CHDateTime(_) | CHType.DateTime64(_, _) =>
        coalesce(formatDateTimeText(c).try_cast(TimestampType),
          lit("1970-01-01 00:00:00").cast(TimestampType))
      case CHType.CHTime | CHType.Time64(_) =>
        coalesce(formatDateTimeText(c), lit("00:00:00"))
      case CHType.CHArray(el) =>
        val parsed = el match {
          case CHType.CHStr => parseStringArray(c)
          case CHType.Int8 | CHType.Int16 | CHType.Int32 | CHType.Int64 =>
            parseNumericArray(c, CHType.toSparkType(el))
          case CHType.Float32 | CHType.Float64 | CHType.CHDecimal =>
            parseNumericArray(c, CHType.toSparkType(el))
          case _ => parseStringArray(c)
        }
        coalesce(parsed, array().cast(CHType.toSparkType(inner)))
      case CHType.CHNullable(_) => c // unreachable after stripNullable
    }
    // Nullable short-circuit: NULL source stays NULL only when the target
    // is Nullable; non-nullable targets got defaults above.
    if (chType.isNullable)
      when(c.isNull, lit(null).cast(CHType.toSparkType(inner))).otherwise(casted)
    else casted
  }

  // ---------------------------------------------------------------------
  // P1/P2: projection alignment + masking
  // ---------------------------------------------------------------------

  /** Align a source DataFrame to the target column set: for each target
    * column take the source column of the same name, else NULL; extra
    * source columns are dropped; output order = target order
    * (reference: `src/adapter/postgres.rs:334-359`, `src/adapter/mod.rs:177-181`).
    * Masked columns are forced to NULL before the cast
    * (reference: `src/adapter/mod.rs:183-185`).
    */
  def alignToTarget(
      df: DataFrame,
      target: Seq[CHColumn],
      maskColumns: Set[String] = Set.empty
  ): DataFrame = {
    val sourceCols = df.columns.toSet
    val projected = target.map { tc =>
      val sparkType = CHType.toSparkType(tc.chType)
      val base =
        if (maskColumns.contains(tc.name)) lit(null).cast(sparkType)
        else if (sourceCols.contains(tc.name)) col(tc.name).try_cast(sparkType)
        else lit(null).cast(sparkType)
      base.as(tc.name)
    }
    df.select(projected: _*)
  }

  /** Masking alone (P2): listed columns become NULL of their original type. */
  def maskColumns(df: DataFrame, mask: Set[String]): DataFrame = {
    val projected = df.schema.fields.map { f =>
      if (mask.contains(f.name)) lit(null).cast(f.dataType).as(f.name)
      else col(f.name)
    }
    df.select(projected.toIndexedSeq: _*)
  }

  // ---------------------------------------------------------------------
  // A1/A2: last-wins dedup per PK
  // ---------------------------------------------------------------------

  /** Keep only the last occurrence per PK, "last" = max of `seqCol`
    * (reference: `src/adapter/mod.rs:258-269` keeps the last element per
    * key in log order; our order column is the WAL position). One shuffle
    * on the PK columns; whole-stage codegen applies to the filter.
    */
  def dedupLastWins(df: DataFrame, pkCols: Seq[String], seqCol: String): DataFrame = {
    val w = Window.partitionBy(pkCols.map(col): _*).orderBy(col(seqCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Same result as [[dedupLastWins]] via hash aggregation (`max_by` over
    * a struct of the non-PK columns) instead of a window: partial
    * aggregation combines map-side, so the shuffle carries one row per
    * (partition, key) rather than every event, and no sort happens.
    * Preferred at scale; requires `seqCol` values to be distinct per key
    * (true for WAL positions). Column order is preserved. */
  def dedupLastWinsAgg(df: DataFrame, pkCols: Seq[String], seqCol: String): DataFrame = {
    val others = df.columns.filterNot(pkCols.contains).toIndexedSeq
    val packed = df.groupBy(pkCols.map(col): _*)
      .agg(max_by(struct(others.map(col): _*), col(seqCol)).as("__row"))
    packed.select(
      (pkCols.map(col) ++ others.map(c => col(s"__row.$c").as(c))): _*)
      .select(df.columns.toIndexedSeq.map(col): _*)
  }

  /** PK string extraction: values of the PK columns `|`-joined, NULL
    * rendered as the literal "NULL"
    * (reference: `src/pipes/postgres.rs:789-802`).
    */
  def pkString(pkCols: Seq[String]): Column =
    concat_ws("|", pkCols.map(c => coalesce(col(c).cast(StringType), lit("NULL"))): _*)

  /** Two-phase (salted) last-wins dedup for skewed keys: phase 1
    * aggregates per (key, salt) — the shuffle spreads a hot key over
    * `saltBuckets` reducers — phase 2 collapses the (at most
    * `saltBuckets`) survivors per key. Same result as [[dedupLastWinsAgg]]
    * (max_by is associative); use when a single PK can dominate a batch
    * (e.g. one row updated millions of times between merges). The salt is
    * derived from `seqCol`, so it is deterministic. */
  def dedupLastWinsSalted(
      df: DataFrame, pkCols: Seq[String], seqCol: String,
      saltBuckets: Int = 32): DataFrame = {
    val others = df.columns.filterNot(pkCols.contains).toIndexedSeq
    val salted = df.withColumn("__salt", pmod(col(seqCol), lit(saltBuckets)))
    val phase1 = salted
      .groupBy((pkCols :+ "__salt").map(col): _*)
      .agg(max_by(struct(others.map(col): _*), col(seqCol)).as("__row"))
      .select(pkCols.map(col) ++ others.map(c => col(s"__row.$c").as(c)): _*)
    val phase2 = phase1
      .groupBy(pkCols.map(col): _*)
      .agg(max_by(struct(others.map(col): _*), col(seqCol)).as("__row"))
    phase2
      .select(pkCols.map(col) ++ others.map(c => col(s"__row.$c").as(c)): _*)
      .select(df.columns.toIndexedSeq.map(col): _*)
  }

  // ---------------------------------------------------------------------
  // P3/P4: filtering + routing
  // ---------------------------------------------------------------------

  /** Keep only events for configured tables (reference:
    * `src/adapter/mongodb.rs:232-240`). */
  def filterTables(df: DataFrame, tableCol: String, tables: Seq[String]): DataFrame =
    df.filter(col(tableCol).isin(tables: _*))

  /** Op routing (reference: `src/pipes/postgres.rs:328-419`): upserts are
    * inserts+updates; deletes and truncates are their own streams. */
  def upserts(df: DataFrame, opCol: String = "op"): DataFrame =
    df.filter(col(opCol).isin("I", "U"))
  def deletes(df: DataFrame, opCol: String = "op"): DataFrame =
    df.filter(col(opCol) === "D")
  def truncates(df: DataFrame, opCol: String = "op"): DataFrame =
    df.filter(col(opCol) === "T")

  /** A4: per-table, per-op write counters
    * (reference: `src/pipes/mod.rs:23-28`). */
  def writeCounters(df: DataFrame, tableCol: String, opCol: String): DataFrame =
    df.groupBy(col(tableCol), col(opCol)).agg(count(lit(1)).as("n"))

  /** A4 without an extra pass: piggyback the op counters on whatever
    * action consumes `df` via `observe` — the engine collects the metrics
    * while the data flows, the way the reference counts during its writes
    * rather than re-scanning. Read the counts from the returned
    * Observation after an action on the returned frame. */
  def withObservedCounters(
      df: DataFrame, opCol: String = "op"
  ): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    val observed = df.observe(
      obs,
      count(when(col(opCol) === "I", 1)).as("inserts"),
      count(when(col(opCol) === "U", 1)).as("updates"),
      count(when(col(opCol) === "D", 1)).as("deletes"),
      count(when(col(opCol) === "T", 1)).as("truncates"))
    (observed, obs)
  }
}
