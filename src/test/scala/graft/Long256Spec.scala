package graft

import graft.functions.{Long256AddExpr, Long256Ops}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class Long256Spec extends SparkSpec {
  import spark.implicits._

  test("vec_dot: native dot matches lambda spelling, null/length semantics preserved") {
    Engine.ensureFunctions(spark)
    val df = Seq(
      (1L, Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f)),   // 32
      (2L, Seq(0.5f, -1.5f), Seq(2.0f, 2.0f)),              // -2
      (3L, Seq(1.0f), Seq(1.0f, 2.0f))                      // length mismatch → null
    ).toDF("id", "a", "b")
    val out = df.selectExpr("id", "vec_dot(a, b) AS d",
      "aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v) AS ref")
      .orderBy($"id").collect()
    assert(out(0).getDouble(1) == 32.0 && out(0).getDouble(1) == out(0).getDouble(2))
    assert(out(1).getDouble(1) == -2.0 && out(1).getDouble(1) == out(1).getDouble(2))
    assert(out(2).isNullAt(1) && out(2).isNullAt(2))
    // double arrays: null pairs are skipped, not poisoned (reference
    // Numbers.isFinite guard in the dot-product loop)
    val d2 = Seq((1L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 1.0)))
      .toDF("id", "a", "b")
      .selectExpr("vec_dot(a, b) AS d").head()
    assert(d2.getDouble(0) == 1.0)
  }

  private def add(a: String, b: String): String = {
    val r = Long256Ops.add(UTF8String.fromString(a), UTF8String.fromString(b))
    if (r == null) null else r.toString
  }
  private def pad(hex: String) = "0x" + ("0" * (64 - hex.length)) + hex

  test("long256 add: carry ripples across all four limbs") {
    // max uint256 + 1 wraps to zero
    assert(add("0x" + "f" * 64, pad("1")) == pad(""))
    // all-ones low limb + 1 carries into limb 1
    assert(add(pad("f" * 16), pad("1")) == pad("1" + "0" * 16))
    // carry chain through three full limbs
    assert(add(pad("f" * 48), pad("1")) == pad("1" + "0" * 48))
    // no-carry case
    assert(add(pad("5"), pad("7")) == pad("c"))
    // short-form inputs parse too
    assert(add("0xff", "0x1") == pad("100"))
  }

  test("long256 add: malformed input propagates null (reference NULL_LONG256)") {
    assert(add("0xzz", "0x1") == null)
    assert(add("nothex", "0x1") == null)
    assert(add("0x" + "f" * 65, "0x1") == null) // >256 bits
  }

  test("long256 parse/format round-trip and display trim") {
    val v = "0x" + "0" * 31 + "a" + "b" * 16 + "0" * 16
    assert(Long256Ops.format(Long256Ops.parse(v)) == v)
    // display: trimmed to even digit count (reference byte-aligned hex)
    assert(Long256Ops.displayForm(UTF8String.fromString(pad("1"))).toString == "0x01")
    assert(Long256Ops.displayForm(UTF8String.fromString(pad(""))).toString == "0x00")
    assert(Long256Ops.displayForm(UTF8String.fromString(pad("abc"))).toString == "0x0abc")
    assert(Long256Ops.displayForm(UTF8String.fromString(pad("1" + "0" * 16))).toString
      == "0x010000000000000000")
  }

  test("decimal256: exact arithmetic past 38 digits, reference round modes, overflow throws") {
    Engine.ensureFunctions(spark)
    import graft.functions.Decimal256Ops.{binop, unop}
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    def b(a: String, bb: String, op: String, scale: Int = 0): String = {
      val r = binop(u(a), u(bb), op, scale); if (r == null) null else r.toString
    }
    def un(a: String, op: String, scale: Int = 0): String = {
      val r = unop(u(a), op, scale); if (r == null) null else r.toString
    }
    val big = "9" * 50 // 50 nines — far past DecimalType(38)
    assert(b(big, "1", "add") == "1" + "0" * 50)
    val mid = "9" * 38 // its square (76 digits) still fits 255 bits
    assert(b(mid, mid, "mul") == "9" * 37 + "8" + "0" * 37 + "1") // (10^38-1)^2
    assert(b("1", "3", "div", 10) == "0.3333333333")
    assert(b("10", "3", "rem") == "1")
    // reference NumericException parity: division by zero throws
    intercept[ArithmeticException](b("1", "0", "div", 2))
    intercept[ArithmeticException](b("10", "0", "rem"))
    // rounding family (reference Round/RoundHalfEven/Up/Down/Floor/Ceil)
    assert(un("2.5", "round") == "3" && un("3.5", "round") == "4") // HALF_UP
    assert(un("2.5", "round_half_even") == "2" && un("3.5", "round_half_even") == "4")
    assert(un("-2.1", "round_up") == "-3" && un("-2.9", "round_down") == "-2")
    assert(un("-2.1", "floor") == "-3" && un("-2.1", "ceil") == "-2")
    assert(un("-7", "sign") == "-1" && un("0", "sign") == "0")
    // 256-bit coefficient bound: 2^255 coefficient overflows (throws,
    // as the reference's NumericException does), half stays
    intercept[ArithmeticException](b("2" + "0" * 77, "1" + "0" * 77, "mul"))
    assert(b("1" + "0" * 76, "2", "mul") == "2" + "0" * 76)
    // SQL surface
    val r = spark.sql("SELECT decimal256_mul('" + big + "', '2') AS x").head().getString(0)
    assert(r == "1" + "9" * 49 + "8")
  }

  test("decimal256 aggregates: exact sum, numeric min/max, nulls skipped, overflow throws") {
    Engine.ensureFunctions(spark)
    val df = Seq(
      ("a", "1" + "0" * 40), ("a", "2" + "0" * 40), ("a", null), // null skipped
      ("b", "9"), ("b", "10") // numeric order: min 9 < 10 (string order says '10' < '9')
    ).toDF("g", "v")
    val out = df.groupBy($"g").agg(
      expr("decimal256_sum(v) AS s"), expr("decimal256_avg(v) AS m"),
      expr("decimal256_min(v) AS mn"), expr("decimal256_max(v) AS mx"))
      .orderBy($"g").collect()
    assert(out(0).getString(1) == "3" + "0" * 40)
    assert(out(0).getString(2) == "15" + "0" * 39 + ".000000") // avg of 2 non-nulls
    assert(out(1).getString(3) == "9" && out(1).getString(4) == "10")
    // sum past 2^255 errors like the reference's NumericException (the
    // task failure surfaces as a SparkException chain → ArithmeticException)
    val boom = intercept[Exception] {
      Seq(("c", "5" + "0" * 76), ("c", "5" + "0" * 76)).toDF("g", "v")
        .groupBy($"g").agg(expr("decimal256_sum(v) AS s")).collect()
    }
    def chain(t: Throwable): LazyList[Throwable] =
      LazyList.iterate[Throwable](t)(_.getCause).takeWhile(_ != null)
    assert(chain(boom).exists(_.getMessage != null) &&
      chain(boom).exists(t => t.getMessage != null && t.getMessage.contains("decimal256 overflow")))
  }

  test("long256 column API + SQL registration execute codegen'd") {
    Engine.ensureFunctions(spark)
    val df = Seq((1L, 2L), (-1L, 3L)).toDF("a", "b")
      .select(Long256Ops.long256Add(
        Long256Ops.castToLong256($"a"), Long256Ops.castToLong256($"b")).as("s"))
    val rows = df.orderBy($"s").collect().map(_.getString(0))
    // -1 cast = all-ones low limb (no sign extension); +3 carries
    assert(rows.contains(pad("3")))
    assert(rows.contains(pad("1" + "0" * 15 + "2")))
    // SQL spelling through the dialect macro + registered function
    val sql = graft.sql.QuestSql.sql(spark,
      "SELECT long256_add(to_long256(5), to_long256(0, 1, 0, 0)) AS s")
    assert(sql.collect()(0).getString(0) == pad("1" + "0" * 15 + "5"))
  }
}
