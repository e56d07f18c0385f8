package graft.etl

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.storage.StorageLevel

/** Outputs of the ETL transform: the enriched+routed stream and the
  * dead-letter channel (reference: log-and-skip, consumer.py:178-185;
  * Firehose `errors/` prefix, Solution.ipynb cell 28).
  */
final case class EtlOutputs(enriched: DataFrame, deadLetter: DataFrame)

/** The reference's full consumer transform (SURVEY.md §2.7) as one
  * declarative batch/streaming-agnostic pipeline:
  *
  * decode JSON (S4) → validate → enrich P1–P4 → route P5 → serialize (S5).
  *
  * Works identically on a batch DataFrame and a streaming one (pure
  * projections/filters — no state, no shuffle), so the same code path backs
  * unit tests, the golden E2E, and the production streaming topology. At
  * scale it is one map stage whose parallelism is the source's partition
  * count (shards). It is not one fused loop of generated code: `from_json`
  * builds an `InputStreamReader`-based Jackson parser per record
  * (`CreateJacksonParser.utf8String`), a numeric `quantity` token is
  * copied through a new `JsonGenerator` per value because the schema types
  * it as a string, and the array functions of [[Enrich]] and [[isValid]]
  * (`aggregate`, `filter`, `forall`) are `CodegenFallback` expressions,
  * evaluated by the interpreter from inside the generated projection.
  */
object SessionEtl {

  /** Schema used for parsing: session schema + corrupt-record channel. */
  private val parseSchema: StructType =
    SessionSchemas.session.add(SessionSchemas.corruptColumn, StringType)

  /** S4: bytes/string JSON → parsed struct, PERMISSIVE with corrupt capture.
    * Input must have a `data` column (BinaryType or StringType); all other
    * input columns (shard, sequence_number, …) pass through untouched.
    */
  def decode(raw: DataFrame, dataCol: String = "data"): DataFrame = {
    val asString = raw.schema(dataCol).dataType match {
      case StringType => col(dataCol)
      case _          => col(dataCol).cast("string")
    }
    raw
      .withColumn("raw_json", asString)
      .withColumn("parsed",
        from_json(col("raw_json"), parseSchema,
          Map("mode" -> "PERMISSIVE",
              "columnNameOfCorruptRecord" -> SessionSchemas.corruptColumn)))
  }

  /** Validity per reference semantics (§1.4): a record is dead-lettered iff
    * processing it would raise in the reference consumer —
    *  - unparseable JSON (json.loads raises, consumer.py:118)
    *  - missing session_id (PutRecord PartitionKey lookup, consumer.py:170)
    *  - missing country (routing lookup, consumer.py:161)
    *  - missing browse_history (iteration, consumer.py:135)
    *  - any item whose quantity is not numeric (int(...) raises,
    *    consumer.py:137; floats truncate — see [[Enrich.qty]] for the
    *    lenient string-vs-number divergence note)
    * A null `in_shopping_cart` is VALID and simply not counted (Python
    * `None is True` is False, it does not raise — consumer.py:142).
    *
    * Note the corrupt-record column is deliberately NOT part of validity:
    * Spark's PERMISSIVE parse also flags a field-level type mismatch (e.g. a
    * string where the schema says boolean) as "corrupt", but the reference's
    * `json.loads` succeeds on such records and processes them fine — so a
    * record counts as corrupt only when nothing required parsed at all.
    */
  def isValid(parsed: Column): Column = {
    val bh = parsed.getField("browse_history")
    parsed.isNotNull &&
      parsed.getField("session_id").isNotNull &&
      parsed.getField("country").isNotNull &&
      bh.isNotNull &&
      forall(bh, x => Enrich.qty(x).isNotNull)
  }

  /** S5: output wire format. The reference mutates the decoded dict in place
    * and re-serializes the WHOLE record (consumer.py:167-169), so unknown
    * input fields must pass through. We reproduce that with JSON-string
    * surgery on the original payload — append the four derived fields before
    * the closing brace — which preserves every unmodeled field byte-for-byte
    * (SURVEY.md §7.4(1)). `isoTs` is the formatted processing timestamp.
    */
  private def outputJson(rawJson: Column, isoTs: Column, opq: Column,
      oisc: Column, tdp: Column): Column =
    concat(
      withoutClosingBrace(rawJson),
      lit(", \"processing_timestamp\": \""), isoTs, lit("\""),
      lit(", \"overall_product_quantity\": "), opq.cast("string"),
      lit(", \"overall_in_shopping_cart\": "), oisc.cast("string"),
      lit(", \"total_different_products\": "), tdp.cast("string"),
      lit("}"))

  /** Line terminators before which Java's `$` also matches at the end of
    * the input.
    */
  private val FinalTerminators = Seq("\n", "\r\n", "\r", "\u0085", "\u2028", "\u2029")

  /** `regexp_replace(rtrim(json), "\\}$", "")` without the regex: drops a
    * `}` that ends the right-trimmed payload or precedes one final line
    * terminator, which stays. Built from functions that are compiled into
    * the projection, and cut by byte offsets (`octet_length`, binary
    * `substr`): character offsets would walk the UTF-8 payload twice.
    */
  private[etl] def withoutClosingBrace(json: Column): Column = {
    val trimmed = rtrim(json)
    val bytes = octet_length(trimmed)
    ("" +: FinalTerminators).foldRight(trimmed) { (t, rest) =>
      val suffix = "}" + t
      val keep = trimmed.cast("binary")
        .substr(lit(1), bytes - suffix.getBytes(UTF_8).length).cast("string")
      when(trimmed.endsWith(suffix), concat(keep, lit(t))).otherwise(rest)
    }
  }

  /** Columns only a valid row carries: every parsed session field, the
    * four derived attributes, `route`, and `data` (the serialized output
    * record — what the reference PutRecords to the destination stream).
    */
  private val enrichedColumns: Seq[String] =
    SessionSchemas.session.fieldNames.toSeq ++ Seq("processing_timestamp",
      "overall_product_quantity", "overall_in_shopping_cart",
      "total_different_products", "route", "data")

  /** What the ETL sinks read from a tagged batch, besides the pass-through
    * source columns: the writer's key and payload, and the dead letter.
    */
  private val sinkColumns: Seq[String] =
    Seq("session_id", "route", "data", "payload", "error")

  /** The whole consumer transform as ONE projection over the decoded input:
    * pass-through input columns, then the [[enrichedColumns]] (set on a
    * valid row only), then `payload` (the raw JSON) and `error` (the
    * dead-letter class), both set on an invalid row only. `clock` is
    * injectable for deterministic tests (default: evaluation-time
    * `current_timestamp()`).
    */
  private def tag(raw: DataFrame, dataCol: String = "data",
      clock: Column = current_timestamp()): DataFrame = {
    val passThrough = raw.columns.filterNot(_ == dataCol).map(col).toSeq
    val parsed = col("parsed")
    val error =
      when(isValid(parsed), lit(null).cast(StringType))
        .when(parsed.isNull ||
             (parsed.getField(SessionSchemas.corruptColumn).isNotNull &&
              parsed.getField("session_id").isNull &&
              parsed.getField("country").isNull &&
              parsed.getField("browse_history").isNull),
             lit("corrupt_json"))
        .when(parsed.getField("session_id").isNull, lit("missing_session_id"))
        .when(parsed.getField("country").isNull, lit("missing_country"))
        .when(parsed.getField("browse_history").isNull, lit("missing_browse_history"))
        .otherwise(lit("bad_quantity"))
    // enrichment is evaluated on valid rows only: the reference never
    // enriches a record it dead-letters
    def ifValid(c: Column): Column = when(col("error").isNull, c)

    val bh = parsed.getField("browse_history")
    val derived = decode(raw, dataCol)
      .withColumn("error", error)
      .withColumn("processing_timestamp", ifValid(Enrich.processingTimestamp(clock)))
      .withColumn("overall_product_quantity", ifValid(Enrich.overallProductQuantity(bh)))
      .withColumn("overall_in_shopping_cart", ifValid(Enrich.overallInShoppingCart(bh)))
      .withColumn("total_different_products", ifValid(Enrich.totalDifferentProducts(bh)))
      .withColumn("route", ifValid(Route.route(parsed.getField("country"))))
    val sessionFields = SessionSchemas.session.fieldNames.toSeq.map(f =>
      ifValid(parsed.getField(f)).as(f))
    derived.select(passThrough ++ sessionFields ++ Seq(
      col("processing_timestamp"), col("overall_product_quantity"),
      col("overall_in_shopping_cart"), col("total_different_products"),
      col("route"),
      // `clock` formatted once: a timestamp literal (a micro-batch's
      // current_timestamp()) folds to a string literal, which generated
      // code takes by reference, so the next batch reuses the compiled
      // projection instead of compiling one with its own clock inlined
      ifValid(outputJson(col("raw_json"), Enrich.isoTimestamp(clock),
        col("overall_product_quantity"), col("overall_in_shopping_cart"),
        col("total_different_products"))).as("data"),
      when(col("error").isNotNull, col("raw_json")).as("payload"),
      col("error")): _*)
  }

  /** True on the invalid rows of a [[tag]]ged frame. */
  val isDeadLetter: Column = col("error").isNotNull

  /** The valid rows of a [[tag]]ged frame, without the dead-letter columns. */
  def enriched(tagged: DataFrame): DataFrame =
    tagged.filter(col("error").isNull).drop("payload", "error")

  /** The invalid rows of a [[tag]]ged frame: the pass-through columns, then
    * `payload` and `error`.
    */
  def deadLetter(tagged: DataFrame): DataFrame =
    tagged.filter(isDeadLetter).drop(enrichedColumns: _*)

  /** The columns of [[deadLetter]]. */
  def deadLetterColumns(tagged: DataFrame): Seq[String] =
    tagged.columns.toSeq.filterNot(enrichedColumns.contains)

  /** Full transform: both channels of one [[tag]]ged projection. Enriched
    * output columns: pass-through input columns (e.g. shard/sequence
    * metadata from the source), then the [[enrichedColumns]].
    */
  def transform(raw: DataFrame, dataCol: String = "data",
      clock: Column = current_timestamp()): EtlOutputs = {
    val tagged = tag(raw, dataCol, clock)
    EtlOutputs(enriched(tagged), deadLetter(tagged))
  }

  /** The batch's [[tag]]ged projection narrowed to the pass-through and
    * [[sinkColumns]], what the ETL sinks read. `data` is the UTF-8 binary
    * the log writer appends.
    */
  def sinkProjection(batch: DataFrame, dataCol: String = "data"): DataFrame = {
    val passThrough = batch.columns.filterNot(_ == dataCol).toSeq
    tag(batch, dataCol).select((passThrough ++ sinkColumns).map(c =>
      if (c == "data") col(c).cast("binary").as(c) else col(c)): _*)
  }

  /** Runs a `foreachBatch` body over the batch's [[sinkProjection]],
    * persisted for the length of the body, so every sink of the batch reads
    * one decode of one source scan. The cache is freed when the body
    * returns or throws. `data` is cached as binary: the columnar cache
    * stores a binary column as is, where a string column pays dictionary
    * and run-length statistics over values that are all distinct.
    */
  def withTaggedBatch(batch: DataFrame, dataCol: String = "data")(
      body: DataFrame => Unit): Unit = {
    val tagged = sinkProjection(batch, dataCol).persist(StorageLevel.MEMORY_AND_DISK)
    try body(tagged) finally tagged.unpersist(blocking = false)
  }
}
