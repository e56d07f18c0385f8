package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.functions.{SessionDecode, WithoutClosingBrace}

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
  * count (shards). Decode, validation, P2–P4 and the output record are one
  * native expression, [[graft.functions.SessionDecode]]: one Jackson token
  * pass over each record's UTF-8 bytes, compiled into the stage's
  * generated code (its semantics, and the `from_json` plan it replaced,
  * are documented on [[graft.functions.SessionDecoder]]). P1, the route and
  * the channel split are built-in expressions over its struct.
  */
object SessionEtl {

  /** `regexp_replace(rtrim(json), "\\}$", "")`: drops a `}` that ends the
    * right-trimmed payload or precedes one final line terminator, which
    * stays. The byte cut [[graft.functions.SessionDecode]] makes before it
    * appends the derived fields.
    */
  private[etl] def withoutClosingBrace(json: Column): Column = {
    WithoutClosingBrace.register(SparkSession.active)
    call_function("without_closing_brace", json)
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

  /** The whole consumer transform as ONE projection over the input:
    * pass-through input columns, then the [[enrichedColumns]] (set on a
    * valid row only), then `payload` (the raw JSON) and `error` (the
    * dead-letter class), both set on an invalid row only. `clock` is
    * injectable for deterministic tests (default: evaluation-time
    * `current_timestamp()`).
    */
  private def tag(raw: DataFrame, dataCol: String, clock: Column): DataFrame = {
    val passThrough = raw.columns.filterNot(_ == dataCol).toSeq
    val rawJson = raw.schema(dataCol).dataType match {
      case StringType => col(dataCol)
      case _          => col(dataCol).cast("string")
    }
    SessionDecode.register(raw.sparkSession)
    // `clock` formatted once: a timestamp literal (a micro-batch's
    // current_timestamp()) folds to a string literal, which generated
    // code takes by reference, so the next batch reuses the compiled
    // projection instead of compiling one with its own clock inlined
    val decoded = call_function("session_decode", rawJson,
      Enrich.isoTimestamp(clock))
    val d = col("__decoded")
    val error = d.getField("error")
    // enrichment is evaluated on valid rows only: the reference never
    // enriches a record it dead-letters
    def ifValid(c: Column): Column = when(error.isNull, c)
    def field(f: String): Column = ifValid(d.getField(f)).as(f)
    // two selects: the struct is computed once per row, the second only
    // reads its fields (CollapseProject keeps a non-cheap producer that is
    // referenced more than once)
    raw.select(passThrough.map(col) ++
        Seq(rawJson.as("__raw"), decoded.as("__decoded")): _*)
      .select(passThrough.map(col) ++
        SessionSchemas.session.fieldNames.toSeq.map(field) ++
        Seq(ifValid(Enrich.processingTimestamp(clock)).as("processing_timestamp")) ++
        Seq("overall_product_quantity", "overall_in_shopping_cart",
          "total_different_products").map(field) ++
        Seq(ifValid(Route.route(d.getField("country"))).as("route"), field("data"),
          when(error.isNotNull, col("__raw")).as("payload"), error.as("error")): _*)
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

  /** On the invalid rows of a [[tag]]ged frame, the [[deadLetter]] row as
    * one JSON line, as Spark's JSON writer writes it (the same generator:
    * fields in column order, nulls omitted, timestamps in the session time
    * zone); null on the valid rows.
    */
  def deadLetterJson(tagged: DataFrame): Column =
    when(isDeadLetter, to_json(struct(
      tagged.columns.toSeq.filterNot(enrichedColumns.contains).map(col): _*)))

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
    tag(batch, dataCol, current_timestamp())
      .select((passThrough ++ sinkColumns).map(c =>
        if (c == "data") col(c).cast("binary").as(c) else col(c)): _*)
  }
}
