package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestBase
import graft.types.{CHColumn, CHType}

/** Spark-level operator semantics (SURVEY.md §2.3/§2.4): the reference's
  * value truth tables (invalid numerics → 0, bool table, datetime
  * truncation, naive array parse), projection alignment, masking, dedup.
  */
class CoreOpsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): Any =
    Seq("x").toDF("dummy").select(c).collect().head.get(0)

  // --- P5: int with fallback 0 (pgoutput.rs:82-89) ---
  test("intOrZero truth table") {
    def f(s: String) = Seq(s).toDF("v").select(CoreOps.intOrZero(col("v"))).head.get(0)
    assert(f("42") == 42L)
    assert(f("-7") == -7L)
    assert(f("+7") == 7L)
    assert(f("abc") == 0L)
    assert(f("4.5") == 0L)   // not an integer literal → 0, like Rust parse::<i64>
    assert(f("") == 0L)
    assert(f("9223372036854775807") == Long.MaxValue)
  }

  // --- P6: real with fallback 0.0 (pgoutput.rs:91-98) ---
  test("realOrZero truth table") {
    def f(s: String) = Seq(s).toDF("v").select(CoreOps.realOrZero(col("v"))).head.getDouble(0)
    assert(f("4.5") == 4.5)
    assert(f("-1e3") == -1000.0)
    assert(f("xyz") == 0.0)
    assert(f("") == 0.0)
  }

  // --- P7: bool truth table (pgoutput.rs:157-163) ---
  test("boolParse truth table") {
    def f(s: String) = Seq(s).toDF("v").select(CoreOps.boolParse(col("v"))).head.getBoolean(0)
    for (t <- Seq("t", "T", "1", "true", "TRUE", "True")) assert(f(t), s"'$t' should be true")
    for (x <- Seq("f", "F", "0", "false", "no", "yes", "garbage", "")) assert(!f(x), s"'$x' should be false")
  }

  // --- P9: datetime normalize (pgoutput.rs:220-234, tests :599-628) ---
  test("formatDateTimeText truncates fractional seconds and tz offset") {
    def f(s: String) = Seq(s).toDF("v").select(CoreOps.formatDateTimeText(col("v"))).head.getString(0)
    assert(f("2025-08-18 05:16:08.490845+00") == "2025-08-18 05:16:08")
    assert(f("2025-08-18 05:16:08+09") == "2025-08-18 05:16:08")
    assert(f("2025-08-18 05:16:08.123") == "2025-08-18 05:16:08")
    assert(f("2025-08-18 05:16:08") == "2025-08-18 05:16:08")
  }

  // --- P11: string array literal (pgoutput.rs:195-201, tests :560-596) ---
  test("parseStringArray handles quoted elements containing commas") {
    def f(s: String) = Seq(s).toDF("v").select(CoreOps.parseStringArray(col("v")))
      .head.getSeq[String](0)
    assert(f("""{"a","b"}""") == Seq("a", "b"))
    assert(f("""{"a,b","c"}""") == Seq("a,b", "c"))
    assert(f("""{a,b}""") == Seq("a,b")) // unquoted: naive split on "\",\"" — reference behavior
  }

  test("parseNumericArray") {
    val r = Seq("{1, 2, 3}").toDF("v")
      .select(CoreOps.parseNumericArray(col("v"), LongType)).head.getSeq[Long](0)
    assert(r == Seq(1L, 2L, 3L))
    val d = Seq("{1.5,2.5}").toDF("v")
      .select(CoreOps.parseNumericArray(col("v"), DoubleType)).head.getSeq[Double](0)
    assert(d == Seq(1.5, 2.5))
  }

  // --- P14: cast planner incl. null-to-default for non-nullable (clickhouse.rs:126-158) ---
  test("castTextToTarget: null → 0 for non-nullable int, null for Nullable") {
    val df = Seq(Some("5"), Some("junk"), None).toDF("v")
    val nonNull = df.select(CoreOps.castTextToTarget(col("v"), CHType.Int64).as("r"))
      .collect().map(_.get(0)).toSeq
    assert(nonNull == Seq(5L, 0L, 0L))
    val nullable = df.select(CoreOps.castTextToTarget(col("v"), CHType.Int64.nullable).as("r"))
      .collect().map(_.get(0)).toSeq
    assert(nullable == Seq(5L, 0L, null))
  }

  test("castTextToTarget: timestamp truncation to seconds") {
    val df = Seq("2025-08-18 05:16:08.490845+00").toDF("v")
    val r = df.select(CoreOps.castTextToTarget(col("v"), CHType.CHDateTime()).as("r"))
      .head.getTimestamp(0)
    assert(r.toString == "2025-08-18 05:16:08.0")
  }

  test("castTextToTarget: date, bool, string, array") {
    val df = Seq(("2025-08-18", "t", "hi", """{"a,b","c"}""")).toDF("d", "b", "s", "arr")
    val r = df.select(
      CoreOps.castTextToTarget(col("d"), CHType.CHDate).as("d"),
      CoreOps.castTextToTarget(col("b"), CHType.Bool).as("b"),
      CoreOps.castTextToTarget(col("s"), CHType.CHStr).as("s"),
      CoreOps.castTextToTarget(col("arr"), CHType.CHStr.array).as("arr")
    ).head
    assert(r.getDate(0).toString == "2025-08-18")
    assert(r.getBoolean(1))
    assert(r.getString(2) == "hi")
    assert(r.getSeq[String](3) == Seq("a,b", "c"))
  }

  // --- P1/P2: alignment + masking (adapter/mod.rs:177-185) ---
  test("alignToTarget: target order, missing→null, extra dropped, mask→null") {
    val df = Seq((1L, "alice", "secret", 99)).toDF("id", "name", "password", "extra")
    val target = Seq(
      CHColumn("id", CHType.Int64, isPrimaryKey = true),
      CHColumn("name", CHType.CHStr.nullable),
      CHColumn("password", CHType.CHStr.nullable),
      CHColumn("missing_col", CHType.Int32.nullable)
    )
    val out = CoreOps.alignToTarget(df, target, maskColumns = Set("password"))
    assert(out.columns.toSeq == Seq("id", "name", "password", "missing_col"))
    val r = out.head
    assert(r.getLong(0) == 1L)
    assert(r.getString(1) == "alice")
    assert(r.isNullAt(2)) // masked
    assert(r.isNullAt(3)) // missing in source
  }

  // --- A1/A2: dedup last-wins + pk string (adapter/mod.rs:258-269) ---
  test("dedupLastWins keeps max-seq row per PK") {
    val df = Seq(
      (1L, 10L, "a"), (1L, 30L, "c"), (1L, 20L, "b"), (2L, 5L, "x")
    ).toDF("id", "seq", "v")
    val out = CoreOps.dedupLastWins(df, Seq("id"), "seq")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(out == Seq((1L, "c"), (2L, "x")))
  }

  test("dedupLastWinsAgg agrees with the window variant (incl. column order)") {
    val df = Seq(
      (1L, 10L, "a"), (1L, 30L, "c"), (1L, 20L, "b"), (2L, 5L, "x")
    ).toDF("id", "seq", "v")
    val viaWindow = CoreOps.dedupLastWins(df, Seq("id"), "seq")
    val viaAgg = CoreOps.dedupLastWinsAgg(df, Seq("id"), "seq")
    assert(viaAgg.columns.toSeq == viaWindow.columns.toSeq)
    assert(viaAgg.orderBy("id").collect().toSeq ==
      viaWindow.orderBy("id").collect().toSeq)
    // events-scale agreement
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val a = CoreOps.dedupLastWinsAgg(ev, Seq("user_id"), "event_id")
      .orderBy("user_id").collect().toSeq
    val w = CoreOps.dedupLastWins(ev, Seq("user_id"), "event_id")
      .orderBy("user_id").collect().toSeq
    assert(a == w)
  }

  test("observed counters ride the consuming action (A4, no extra pass)") {
    val df = Seq(
      ("I", 1L), ("U", 2L), ("U", 3L), ("D", 4L), ("T", 5L), ("I", 6L)
    ).toDF("op", "seq")
    val (observed, obs) = CoreOps.withObservedCounters(df)
    observed.write.format("noop").mode("overwrite").save() // the real action
    val m = obs.get
    assert(m("inserts") == 2L && m("updates") == 2L &&
      m("deletes") == 1L && m("truncates") == 1L)
  }

  test("pkString joins with | and renders NULL (pipes/postgres.rs:789-802)") {
    val df = Seq((Some(1L), Some("a")), (Some(2L), None)).toDF("k1", "k2")
    val out = df.select(CoreOps.pkString(Seq("k1", "k2")).as("pk"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("1|a", "2|NULL"))
  }

  // --- P3/P4/A4: routing + counters ---
  test("routing and counters") {
    val df = Seq(
      ("t1", "I"), ("t1", "U"), ("t1", "D"), ("t2", "I"), ("t2", "T")
    ).toDF("table", "op")
    assert(CoreOps.upserts(df).count() == 3)
    assert(CoreOps.deletes(df).count() == 1)
    assert(CoreOps.truncates(df).count() == 1)
    assert(CoreOps.filterTables(df, "table", Seq("t1")).count() == 3)
    val counts = CoreOps.writeCounters(df, "table", "op")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(counts == Set(("t1", "I", 1L), ("t1", "U", 1L), ("t1", "D", 1L),
      ("t2", "I", 1L), ("t2", "T", 1L)))
  }

  test("inParallel: when both sides throw, both errors are visible") {
    val e = intercept[IllegalStateException] {
      CoreOps.inParallel(
        throw new IllegalStateException("a failed"),
        throw new java.io.IOException("b failed"))
    }
    assert(e.getMessage == "a failed")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("b failed"))
    // a lone failure on either side still propagates as itself
    val eb = intercept[java.io.IOException] {
      CoreOps.inParallel((), throw new java.io.IOException("b only"))
    }
    assert(eb.getMessage == "b only" && eb.getSuppressed.isEmpty)
  }
}
