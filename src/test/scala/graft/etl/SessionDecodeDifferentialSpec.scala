package graft.etl

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestBase

/** The ETL transform the native decoder replaced: `from_json` with the
  * PERMISSIVE corrupt-record channel, then `Enrich`'s `aggregate`/`filter`
  * and a `forall` validity predicate, and the closing-brace cut by
  * `rtrim`/`endsWith`/byte `substr`. Kept here only, as the oracle of
  * [[SessionDecodeDifferentialSpec]].
  */
object LegacySessionEtl {
  private val corruptColumn = "_corrupt_record"
  private val parseSchema = SessionSchemas.session.add(corruptColumn, StringType)

  private def isValid(parsed: Column): Column = {
    val bh = parsed.getField("browse_history")
    parsed.isNotNull &&
      parsed.getField("session_id").isNotNull &&
      parsed.getField("country").isNotNull &&
      bh.isNotNull &&
      forall(bh, x => Enrich.qty(x).isNotNull)
  }

  private val FinalTerminators = Seq("\n", "\r\n", "\r", "\u0085", "\u2028", "\u2029")

  def withoutClosingBrace(json: Column): Column = {
    val trimmed = rtrim(json)
    val bytes = octet_length(trimmed)
    ("" +: FinalTerminators).foldRight(trimmed) { (t, rest) =>
      val suffix = "}" + t
      val keep = trimmed.cast("binary")
        .substr(lit(1), bytes - suffix.getBytes(UTF_8).length).cast("string")
      when(trimmed.endsWith(suffix), concat(keep, lit(t))).otherwise(rest)
    }
  }

  private def tag(raw: DataFrame, dataCol: String, clock: Column): DataFrame = {
    val passThrough = raw.columns.filterNot(_ == dataCol).map(col).toSeq
    val asString = raw.schema(dataCol).dataType match {
      case StringType => col(dataCol)
      case _          => col(dataCol).cast("string")
    }
    val parsed = col("parsed")
    val error =
      when(isValid(parsed), lit(null).cast(StringType))
        .when(parsed.isNull ||
             (parsed.getField(corruptColumn).isNotNull &&
              parsed.getField("session_id").isNull &&
              parsed.getField("country").isNull &&
              parsed.getField("browse_history").isNull),
             lit("corrupt_json"))
        .when(parsed.getField("session_id").isNull, lit("missing_session_id"))
        .when(parsed.getField("country").isNull, lit("missing_country"))
        .when(parsed.getField("browse_history").isNull, lit("missing_browse_history"))
        .otherwise(lit("bad_quantity"))
    def ifValid(c: Column): Column = when(col("error").isNull, c)
    val bh = parsed.getField("browse_history")
    val derived = raw
      .withColumn("raw_json", asString)
      .withColumn("parsed", from_json(col("raw_json"), parseSchema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corruptColumn)))
      .withColumn("error", error)
      .withColumn("processing_timestamp", ifValid(Enrich.processingTimestamp(clock)))
      .withColumn("overall_product_quantity", ifValid(Enrich.overallProductQuantity(bh)))
      .withColumn("overall_in_shopping_cart", ifValid(Enrich.overallInShoppingCart(bh)))
      .withColumn("total_different_products", ifValid(Enrich.totalDifferentProducts(bh)))
      .withColumn("route", ifValid(Route.route(parsed.getField("country"))))
    val sessionFields = SessionSchemas.session.fieldNames.toSeq.map(f =>
      ifValid(parsed.getField(f)).as(f))
    val outputJson = concat(
      withoutClosingBrace(col("raw_json")),
      lit(", \"processing_timestamp\": \""), Enrich.isoTimestamp(clock), lit("\""),
      lit(", \"overall_product_quantity\": "), col("overall_product_quantity").cast("string"),
      lit(", \"overall_in_shopping_cart\": "), col("overall_in_shopping_cart").cast("string"),
      lit(", \"total_different_products\": "), col("total_different_products").cast("string"),
      lit("}"))
    derived.select(passThrough ++ sessionFields ++ Seq(
      col("processing_timestamp"), col("overall_product_quantity"),
      col("overall_in_shopping_cart"), col("total_different_products"),
      col("route"), ifValid(outputJson).as("data"),
      when(col("error").isNotNull, col("raw_json")).as("payload"),
      col("error")): _*)
  }

  def transform(raw: DataFrame, dataCol: String = "data",
      clock: Column = current_timestamp()): EtlOutputs = {
    val tagged = tag(raw, dataCol, clock)
    EtlOutputs(SessionEtl.enriched(tagged), SessionEtl.deadLetter(tagged))
  }

  def sinkProjection(batch: DataFrame, dataCol: String = "data"): DataFrame = {
    val passThrough = batch.columns.filterNot(_ == dataCol).toSeq
    tag(batch, dataCol, current_timestamp())
      .select((passThrough ++ Seq("session_id", "route", "data", "payload", "error"))
        .map(c => if (c == "data") col(c).cast("binary").as(c) else col(c)): _*)
  }
}

/** Generators of `user_session` payloads around the semantics traps of
  * the decoder: JSON text pieces, assembled into records, then mutated at
  * the byte level.
  */
object SessionTraps {
  private def lit(s: String*): Gen[String] = Gen.oneOf(s)

  /** Tokens Jackson rejects: bad escapes, a raw control character in a
    * string, misspelt literals, numbers it does not accept. Caught inside
    * a field, they test where the parser resumes.
    */
  val malformed: Gen[String] = lit("\"a\\qb\"", "\"raw\ttab\"", "\"u\\u12G4\"",
    "tru", "nul", "fals", "1x", "-", ".5", "01", "+1", "1.", "0x10", "True")

  /** JSON string literals: ASCII, escapes, non-ASCII, surrogate pairs as
    * UTF-8 and as `\\u` escapes, a lone surrogate escape, single quotes.
    */
  val text: Gen[String] = Gen.frequency(
    12 -> Gen.alphaNumStr.map(s => "\"" + s.take(8) + "\""),
    1 -> lit("\"Bogotá\"", "\"日本語\"", "\"Zürich 😀\"", "\"\\u00e9t\\u00e9\"",
      "\"\\uD83D\\uDE00\"", "\"\\uD800x\"", "\"tab\\there\"", "\"q\\\"uote\"",
      "\"sl\\/ash\\\\\"", "'single'", "\"\"", "\" \"", "\"\\u0000\""),
    1 -> malformed)

  /** Non-string values that land in string fields. */
  val nonString: Gen[String] = lit("12", "-0", "1.50", "2.5e3", "1E-2", "true",
    "false", "{\"x\": [1, 2.0, \"y\"], \"z\": {}}", "[1, \"two\", null]", "[]",
    "{}", "9223372036854775808", "NaN", "-Infinity", "123456789012345678.9")

  val sessionId: Gen[String] =
    Gen.frequency(10 -> text, 2 -> nonString, 1 -> lit("null"))
  val country: Gen[String] = Gen.frequency(
    6 -> lit("\"USA\""), 4 -> lit("\"Colombia\"", "\"usa\"", "\"\\u0055SA\"",
      "\"日本\"", "\"\"", "'USA'"),
    1 -> nonString, 1 -> lit("null"))
  val city: Gen[String] = Gen.frequency(5 -> text, 1 -> nonString, 1 -> lit("null"))
  val longField: Gen[String] = Gen.frequency(
    6 -> Gen.chooseNum(-1000000L, 1000000L).map(_.toString),
    1 -> lit("9223372036854775807", "-9223372036854775808", "9223372036854775808",
      "1.5", "1e3", "\"100\"", "null", "true", "{}", "[]", "\"\""))

  /** Quantities: small ints mostly, then every lexical form the cast
    * sees; `huge` ones can overflow a sum, so they go in one-item arrays.
    */
  val smallQuantity: Gen[String] = Gen.frequency(
    20 -> Gen.chooseNum(0, 50).map(_.toString),
    1 -> lit("-3", "2.5", "-2.5", "2.50", "1e2", "1E1", "-0", "0.0", "\"3\"",
      "\" 4 \"", "\"\\t5\\n\"", "\"2.5\"", "\"-2.5\"", "\"1e2\"", "\"1e19\"",
      "\"two\"", "\"\"", "\" \"", "{\"n\": 1}", "[1]", "[]", "true", "false",
      "null", "NaN", "\"NaN\"", "\"Infinity\"", "-Infinity", "\"0x1A\"",
      "\"+7\"", "\"١٢\"", "123456789012345678.9", "\"123456789012345678.9\"",
      "4.9e-324", "1.7976931348623157e308"),
    1 -> malformed)
  val hugeQuantity: Gen[String] = lit("1e19", "-1e19", "9223372036854775807",
    "9223372036854775808", "-9223372036854775809", "\"9223372036854775807\"",
    "\"9223372036854775808\"", "1e18", "9.2233720368547758E18",
    "99999999999999999999999")
  val cart: Gen[String] = Gen.frequency(
    16 -> lit("true", "false", "null"),
    2 -> lit("\"true\"", "1", "\"\"", "{}", "[true]", "\"false\""),
    1 -> malformed)

  val unknown: Gen[String] = lit(
    "\"loyalty_tier\": \"gold\"", "\"meta\": {\"a\": [1, {\"b\": null}], \"c\": \"x\"}",
    "\"tags\": [[], [1, \"two\"], {\"k\": {}}]", "\"_corrupt_record\": \"x\"",
    "\"rid\": 17", "\"created_ms\": 1752675970123", "\"Session_ID\": \"case\"",
    "\"note\": \"日本 😀 \\u00e9\"", "\"nested\": {\"browse_history\": [1]}")

  /** The picked fields and 0–2 unknown ones in random order, one of them
    * sometimes repeated (a duplicate key), with a random separator.
    */
  private def members(fields: Seq[Gen[String]]): Gen[String] = for {
    picked <- Gen.sequence[List[String], String](fields).map(_.filter(_.nonEmpty))
    extra <- Gen.choose(0, 2).flatMap(Gen.listOfN(_, unknown))
    dup <- if (picked.isEmpty) Gen.const(Nil)
      else Gen.frequency(9 -> Gen.const(Nil), 1 -> Gen.oneOf(picked).map(List(_)))
    all = picked ++ extra ++ dup
    keys <- Gen.listOfN(all.size, Gen.choose(0.0, 1.0))
    sep <- lit(", ", ",", " ,\n  ", ",\t")
  } yield all.zip(keys).sortBy(_._2).map(_._1).mkString(sep)

  private def field(name: String, value: Gen[String], present: Double): Gen[String] =
    Gen.frequency(((present * 100).toInt, value.map(v => s"\"$name\": $v")),
      ((100 - present * 100).toInt, Gen.const("")))

  def item(huge: Boolean): Gen[String] = members(Seq(
    field("product_code", Gen.frequency(8 -> text, 1 -> nonString, 1 -> lit("null")), 0.9),
    field("quantity", if (huge) hugeQuantity else smallQuantity, 0.93),
    field("in_shopping_cart", cart, 0.9))).map("{" + _ + "}")

  val history: Gen[String] = Gen.frequency(
    12 -> Gen.choose(0, 5).flatMap { n =>
      val one = n == 1
      Gen.listOfN(n, Gen.frequency(
        30 -> Gen.oneOf(item(huge = false), if (one) item(huge = true) else item(huge = false)),
        1 -> lit("null", "1", "\"x\"", "[1]", "true"),
        1 -> malformed)).map(_.mkString("[", ", ", "]"))
    },
    1 -> lit("null", "{}", "\"[]\"", "3", "[[]]", "{\"product_code\": \"P\"}"))

  /** A record: the six fields (each sometimes absent), unknown fields,
    * an occasional duplicate key, a trailing terminator.
    */
  val record: Gen[String] = for {
    body <- members(Seq(
      field("session_id", sessionId, 0.93), field("customer_number", longField, 0.8),
      field("city", city, 0.8), field("country", country, 0.93),
      field("credit_limit", longField, 0.8), field("browse_history", history, 0.93)))
    lead <- Gen.frequency(9 -> Gen.const(""), 1 -> lit(" ", "\n", "\t "))
    trail <- Gen.frequency(6 -> Gen.const(""), 4 -> lit(" ", "  ", "\n", "\r\n",
      "\r", "\u0085", "\u2028", "\u2029", "} ", "\n ", " \n", "}\n", "\n\n",
      " x", "}}", "{}", "\u00a0"))
  } yield lead + "{" + body + "}" + trail

  /** Byte-level mutations: truncation, invalid UTF-8 (stray continuation,
    * overlong, encoded surrogate, truncated sequence, 0xFF), a BOM, NUL,
    * dropped punctuation, and top-level non-objects.
    */
  val bytes: Gen[Array[Byte]] = {
    val bad = Seq(Array(0x80), Array(0xC0, 0x80), Array(0xED, 0xA0, 0x80),
      Array(0xE2, 0x82), Array(0xFF), Array(0xF4, 0x90, 0x80, 0x80), Array(0xC3))
      .map(_.map(_.toByte))
    def at(b: Array[Byte]): Gen[Int] = Gen.choose(0, b.length)
    for {
      rec <- record
      b = rec.getBytes(UTF_8)
      out <- Gen.frequency(
        30 -> Gen.const(b),
        3 -> at(b).map(b.take),
        3 -> (for { i <- at(b); x <- Gen.oneOf(bad) } yield b.take(i) ++ x ++ b.drop(i)),
        1 -> Gen.const(Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ b),
        1 -> at(b).map(i => b.take(i) ++ Array[Byte](0) ++ b.drop(i)),
        2 -> at(b).map(i => b.take(i) ++ b.drop(i + 1)),
        1 -> Gen.const(("[" + rec + "]").getBytes(UTF_8)),
        1 -> lit("", "   ", "\n", "null", "1", "\"s\"", "true", "[]", "[null]", "{}",
          "{\"session_id\": \"a\"", "not json", "{'session_id': 'a', 'country': 'USA', " +
          "'browse_history': []}", "{/* c */ \"session_id\": \"a\"}",
          "{\"session_id\": \"a\", \"country\": \"USA\", \"browse_history\": [1 2]}",
          "{\"session_id\": \"a\", \"country\": \"USA\", \"browse_history\": [{\"quantity\": 1 \"x\"}]}",
          "{\"session_id\": \"a\", \"country\": \"USA\", \"browse_history\": [1, {\"quantity\": 2}]}")
          .map(_.getBytes(UTF_8)))
    } yield out
  }
}

/** The native decoder against the `from_json` path it replaced, column by
  * column and byte by byte, over `transform` (both channels) and
  * `sinkProjection`.
  */
class SessionDecodeDifferentialSpec extends SparkTestBase {
  import EtlPropertySpec._

  private val clock = lit("2025-07-16 14:26:10.123456").cast("timestamp")
  private val inputSchema = StructType(Seq(
    StructField("id", LongType), StructField("shard", StringType),
    StructField("data", BinaryType)))

  /** The inputs as a scanned (codegen) or local (interpreted) relation. */
  private def frame(payloads: Seq[Array[Byte]], local: Boolean,
      asString: Boolean): DataFrame = {
    val rows = payloads.zipWithIndex.map { case (b, i) =>
      Row(i.toLong, s"s-${i % 3}", b) }
    val df =
      if (local) spark.createDataFrame(java.util.Arrays.asList(rows: _*), inputSchema)
      else spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), inputSchema)
    if (asString) df.withColumn("data", col("data").cast("string")) else df
  }

  /** Rows with string columns as their UTF-8 bytes, in input order; the
    * ISO timestamp a live clock writes into `data` masked.
    */
  private def rowsOf(df: DataFrame, maskClock: Boolean = false): Seq[Seq[Any]] = {
    val cols = df.schema.fields.toSeq.map { f =>
      if (f.dataType == StringType) col(f.name).cast("binary").as(f.name) else col(f.name)
    }
    val key = "\"processing_timestamp\": \"".getBytes(UTF_8)
    df.select(cols: _*).collect().toSeq.sortBy(_.getLong(0)).map(_.toSeq.map {
      case b: Array[Byte] if maskClock && b.containsSlice(key) =>
        val at = b.lastIndexOfSlice(key) + key.length
        (b.take(at) ++ Array.fill(26)('#'.toByte) ++ b.drop(at + 26)).toSeq
      case b: Array[Byte] => b.toSeq
      case v => v
    })
  }

  private def show(v: Any): String = v match {
    case b: Seq[_] if b.forall(_.isInstanceOf[Byte]) =>
      new String(b.asInstanceOf[Seq[Byte]].toArray, UTF_8).map(c =>
        if (c < ' ' || c > '~') f"\\u${c.toInt}%04x" else c.toString).mkString
    case other => String.valueOf(other)
  }

  private def assertSame(what: String, oracle: DataFrame, native: DataFrame,
      payloads: Seq[Array[Byte]], maskClock: Boolean = false): Unit = {
    assert(native.schema == oracle.schema, s"$what schema")
    val want = rowsOf(oracle, maskClock)
    val got = rowsOf(native, maskClock)
    assert(got.map(_.head) == want.map(_.head), s"$what row ids")
    want.zip(got).foreach { case (w, g) =>
      if (w != g) {
        val input = payloads(w.head.asInstanceOf[Long].toInt)
        val diff = oracle.columns.indices.filter(i => w(i) != g(i)).map(i =>
          s"${oracle.columns(i)}: oracle=${show(w(i))} native=${show(g(i))}")
        fail(s"$what, input ${show(input.toSeq)}:\n  " + diff.mkString("\n  "))
      }
    }
  }

  private def compare(payloads: Seq[Array[Byte]], local: Boolean = false,
      asString: Boolean = false): Unit = {
    val df = frame(payloads, local, asString)
    val old = LegacySessionEtl.transform(df, clock = clock)
    val now = SessionEtl.transform(df, clock = clock)
    assertSame("enriched", old.enriched, now.enriched, payloads)
    assertSame("deadLetter", old.deadLetter, now.deadLetter, payloads)
    assertSame("sinkProjection", LegacySessionEtl.sinkProjection(df),
      SessionEtl.sinkProjection(df), payloads, maskClock = true)
  }

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def sample[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(seed)).get

  test("generated sessions: identical to the from_json path") {
    for (seed <- 1L to 5L) {
      val payloads = sample(sessionGen, 30, seed)
        .map((toJson _).tupled).map(_.getBytes(UTF_8))
      compare(payloads)
      compare(payloads, asString = true)
    }
  }

  test("semantics traps: identical to the from_json path, ANSI on and off") {
    for (seed <- 11L to 16L; ansi <- Seq(true, false)) withAnsi(ansi) {
      compare(sample(SessionTraps.bytes, 300, seed))
    }
  }

  test("semantics traps, interpreted and over a string column") {
    val payloads = sample(SessionTraps.bytes, 300, 21L)
    compare(payloads, local = true)
    val utf8 = payloads.filter(b => java.util.Arrays.equals(
      new String(b, UTF_8).getBytes(UTF_8), b))
    compare(utf8, asString = true)
  }

  test("named traps: terminators, encodings, quantities, flags, top level") {
    val base = """{"session_id": "t1", "customer_number": 7, "city": "Cali", """ +
      """"country": "USA", "credit_limit": 9, "browse_history": [""" +
      """{"product_code": "P1", "quantity": QTY, "in_shopping_cart": CART}]}"""
    def rec(q: String, c: String = "true"): String =
      base.replace("QTY", q).replace("CART", c)
    val quantities = Seq("2", "2.5", "-2.5", "1e2", "\"3\"", "\" 4 \"", "{\"n\": 1}",
      "9223372036854775808", "1e19", "\"two\"", "null", "[1]", "\"1e2\"", "NaN")
    val flags = Seq("true", "false", "null", "\"true\"")
    val terminators = Seq("", " ", "\n", "\r\n", "\r", "\u0085", "\u2028", "\u2029",
      "} ", "}\n", "\n ")
    val texts = quantities.map(rec(_)) ++ flags.map(rec("1", _)) ++
      terminators.map(rec("1") + _) ++ Seq(
        rec("1").replace("\"Cali\"", "\"Bogotá 日本 😀\""),
        rec("1").replace("\"Cali\"", "\"\\u00e9\\uD83D\\uDE00\""),
        rec("1").replace("\"t1\"", "12").replace("7", "\"7\"").replace("9,", "9.5,"),
        rec("1").replace("\"t1\",", "\"t1\", \"session_id\": \"t2\","),
        rec("1").replace("\"city\"", "\"x\": {\"y\": [1, {\"z\": []}]}, \"city\""),
        "[" + rec("1") + "]", "7", "\"s\"", "", "  ", rec("1").take(40), "null")
    val invalidUtf8 = Seq(Array(0xFF), Array(0xC0, 0xAF), Array(0xED, 0xA0, 0x80))
      .map(_.map(_.toByte)).map { bad =>
        val b = rec("1").getBytes(UTF_8)
        val at = rec("1").indexOf("Cali") + 2
        b.take(at) ++ bad ++ b.drop(at)
      }
    compare(texts.map(_.getBytes(UTF_8)) ++ invalidUtf8)
  }

  test("a P2 or P3 sum past Long overflows as `+` does under the ANSI setting") {
    val max = Long.MaxValue
    val p2 = s"""{"session_id": "o1", "country": "USA", "browse_history": [""" +
      s"""{"quantity": $max}, {"quantity": 1}]}"""
    val p3 = s"""{"session_id": "o2", "country": "USA", "browse_history": [""" +
      s"""{"quantity": $max, "in_shopping_cart": true}, {"quantity": -20},""" +
      """ {"quantity": 10, "in_shopping_cart": true}]}"""
    val invalid = s"""{"country": "USA", "browse_history": [{"quantity": $max}, """ +
      """{"quantity": 1}]}"""
    def condition(body: => Any): Option[String] =
      try { body; None } catch {
        case e: Throwable =>
          Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .collectFirst { case s: SparkThrowable => s.getCondition }
            .orElse(Some(e.getClass.getName))
      }
    for (rec <- Seq(p2, p3)) {
      val payloads = Seq(rec.getBytes(UTF_8))
      withAnsi(on = true) {
        val df = frame(payloads, local = false, asString = false)
        val want = condition(LegacySessionEtl.transform(df, clock = clock).enriched.collect())
        assert(want.contains("ARITHMETIC_OVERFLOW"))
        assert(condition(SessionEtl.transform(df, clock = clock).enriched.collect()) == want)
        assert(condition(SessionEtl.sinkProjection(df).collect()) == want)
      }
      withAnsi(on = false)(compare(payloads))
    }
    withAnsi(on = true)(compare(Seq(invalid.getBytes(UTF_8))))
  }
}
