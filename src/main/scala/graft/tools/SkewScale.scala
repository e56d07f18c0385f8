package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only skew-stress data synthesizer: writes a Zipf-skewed variant of
  * a testdata dir at EQUAL VOLUME to a uniform control, both through the
  * same writer (same partitioning, multi-row-group parquet), so a timing
  * ratio between `<out>/uniform` and `<out>/skew` isolates KEY
  * DISTRIBUTION from data volume and file layout.
  *
  * The shipped testdata is uniform, so the engine's skew machinery
  * (`operators/Skew` salting, AQE skew-join splitting, the bit-mask and
  * histogram-domain aggregations) has only ever seen benign keys. This
  * tool plants one hot key per dimension the heavy queries join/group on:
  *
  *  - `orders.o_custkey`: ~20% of orders remapped to ONE hot customer
  *    (the min custkey — stays FK-valid). Hits every customer join and
  *    the copurchase/pagerank bipartite sources.
  *  - `lineitem.l_partkey`: ~20% of lines remapped to ONE hot part —
  *    the co-purchase graph (edges from a lineitem self-join on
  *    orderkey) gains one node of near-complete degree, stressing the
  *    degree aggregations and adjacency joins of the whole graph family.
  *  - `lineitem.l_suppkey`: ~20% to ONE hot supplier (independent hash).
  *  - `events.user_id`: ~20% of events to ONE hot user (the session/
  *    funnel/stream-analytics keys).
  *  - `documents.text`: aligned 5-token blocks replaced by the hot token
  *    with probability 1/4 — one token carrying ~25% of token mass, and
  *    (because replacements come in runs of 5) the all-hot trigram
  *    carries ~15% of 3-gram mass. Posting lists for the hot gram go
  *    from O(1) docs to the whole corpus — the inverted-index dedup
  *    family's worst case.
  *
  * Remaps are deterministic (xxhash64 of the row's stable keys), so both
  * dirs are reproducible without seeds. Skew data is bench-only: the
  * correctness gate always runs on the shipped uniform testdata.
  *
  * Usage: SkewScale <srcDir> <outDir> — writes `<outDir>/uniform` and
  * `<outDir>/skew`. SPARK_GRAFT_SKEW_PCT (default 20) sets the hot-key
  * row share in percent (the document token share tracks it +~5pp);
  * use 80 for the cliff-hunting stress.
  */
object SkewScale {

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir) = args
    val pct = sys.env.getOrElse("SPARK_GRAFT_SKEW_PCT", "20").toInt
    require(pct > 0 && pct < 100, s"SPARK_GRAFT_SKEW_PCT=$pct out of range")
    val spark = graft.GraftSession("spark.app.name" -> "graft-skew-scale",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")

    def load(t: String): DataFrame =
      spark.read.parquet(s"$srcDir/$t.parquet")

    def write(df: DataFrame, dir: String, t: String): Unit =
      df.repartition(32).write.mode("overwrite").parquet(s"$dir/$t.parquet")

    def minKey(t: String, k: String): Long =
      load(t).agg(min(col(k))).collect()(0).getLong(0)

    val hotCust = minKey("customer", "c_custkey")
    val hotPart = minKey("part", "p_partkey")
    val hotSupp = minKey("supplier", "s_suppkey")
    val hotUser = minKey("events", "user_id")

    // uniform control: every table re-written through this writer so the
    // file layout (32 files, multi row group) matches the skew dir
    val all = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    all.foreach(t => write(load(t), s"$outDir/uniform", t))

    // dimension tables + embeddings pass through unchanged
    Seq("region", "nation", "customer", "supplier", "part", "embeddings")
      .foreach(t => write(load(t), s"$outDir/skew", t))

    write(load("orders")
      .withColumn("o_custkey",
        when(pmod(xxhash64(col("o_orderkey")), lit(100)) < pct, lit(hotCust))
          .otherwise(col("o_custkey"))),
      s"$outDir/skew", "orders")

    write(load("lineitem")
      .withColumn("l_partkey",
        when(pmod(xxhash64(col("l_orderkey"), col("l_linenumber"),
          lit("pk")), lit(100)) < pct, lit(hotPart))
          .otherwise(col("l_partkey")))
      .withColumn("l_suppkey",
        when(pmod(xxhash64(col("l_orderkey"), col("l_linenumber"),
          lit("sk")), lit(100)) < pct, lit(hotSupp))
          .otherwise(col("l_suppkey"))),
      s"$outDir/skew", "lineitem")

    write(load("events")
      .withColumn("user_id",
        when(pmod(xxhash64(col("event_id")), lit(100)) < pct, lit(hotUser))
          .otherwise(col("user_id"))),
      s"$outDir/skew", "events")

    // aligned 5-token blocks → hot token with prob (pct+5)/100: one
    // token at ~(pct+5)% of token mass, the all-hot trigram at ~3/5 of
    // that share of 3-gram mass (runs of 5 → 3 interior hot trigrams)
    val tokPct = math.min(95, pct + 5)
    write(load("documents")
      .withColumn("text", concat_ws(" ", expr(
        s"""transform(split(text, ' '), (t, i) ->
          |  if(pmod(xxhash64(doc_id, i div 5), 100) < $tokPct, 'hottok', t))"""
          .stripMargin)))
      .withColumn("n_chars", length(col("text"))),
      s"$outDir/skew", "documents")

    // report the achieved hot-key shares so the README table can cite them
    Seq(
      ("orders.o_custkey", s"$outDir/skew/orders.parquet", "o_custkey", hotCust),
      ("lineitem.l_partkey", s"$outDir/skew/lineitem.parquet", "l_partkey", hotPart),
      ("lineitem.l_suppkey", s"$outDir/skew/lineitem.parquet", "l_suppkey", hotSupp),
      ("events.user_id", s"$outDir/skew/events.parquet", "user_id", hotUser)
    ).foreach { case (label, path, k, hot) =>
      val df = spark.read.parquet(path)
      val n = df.count()
      val nh = df.filter(col(k) === hot).count()
      println(f"SKEW $label%-22s hot=$hot share=${nh.toDouble / n}%.3f of $n rows")
    }
    val tokShare = spark.read.parquet(s"$outDir/skew/documents.parquet")
      .select(explode(split(col("text"), " ")).as("t"))
      .agg(avg(when(col("t") === "hottok", 1.0).otherwise(0.0)))
      .collect()(0).getDouble(0)
    println(f"SKEW documents hottok token share=$tokShare%.3f")
    spark.stop()
  }
}
