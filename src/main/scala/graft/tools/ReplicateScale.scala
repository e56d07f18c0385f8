package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only scale-stress data synthesizer: writes an N× replica of a
  * testdata dir whose copies are KEY-DISJOINT and CONTENT-DISJOINT, so
  * workload shapes scale the way "10× more data of the same statistical
  * shape" scales (near-linear for the engine's bucketed/banded
  * algorithms), rather than the degenerate way verbatim duplication
  * scales (every copy pair is a near-dup pair — quadratic in copies by
  * construction, which would measure the WORKLOAD's blow-up, not the
  * engine's).
  *
  * Per-copy transforms:
  *  - fact/bridge keys shift by copy·(max+1): orderkey/custkey/partkey/
  *    suppkey/doc_id/vec_id/event_id/user_id — 10 disjoint replicas of
  *    the relational graph, dimension FKs (nationkey) left intact;
  *  - document text: copy 0 is verbatim; copy k>0 suffixes every token
  *    with `~k`, so within-copy token/gram statistics (df shape, doc
  *    lengths, n-gram counts) are preserved while cross-copy gram
  *    collisions are zero;
  *  - embeddings: copy k rotates the vector by k positions — norms and
  *    within-copy pairwise distances are exactly preserved, cross-copy
  *    neighborhoods are scrambled.
  *
  * BOTH the N× dir and a 1× dir are written through the same writer
  * (same partitioning, multi-row-group parquet), so a timing ratio
  * between them isolates data volume from file layout — the shipped
  * testdata is one row group per table, which single-tasks scans and
  * would otherwise confound the comparison.
  *
  * Usage: ReplicateScale <srcDir> <outDir> <copies> — writes
  * `<outDir>/x1` and `<outDir>/x<copies>`.
  */
object ReplicateScale {

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, copiesStr) = args
    val copies = copiesStr.toInt
    val spark = graft.GraftSession("spark.app.name" -> "graft-replicate-scale",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")

    // events.ts is timestamp[us] in the shipped testdata, so it reads as a
    // timestamp directly (the nanosAsLong flag only rewrites NANOS columns)
    // and round-trips through the TIMESTAMP_MICROS writer unchanged
    def load(t: String): DataFrame =
      spark.read.parquet(s"$srcDir/$t.parquet")

    def shifted(df: DataFrame, keys: Seq[String], nCopies: Int): DataFrame = {
      val maxes = keys.map(k => k ->
        (df.agg(max(col(k))).collect()(0).getLong(0) + 1L)).toMap
      val withCopy = df.crossJoin(
        spark.range(nCopies).toDF("__copy"))
      keys.foldLeft(withCopy) { (d, k) =>
        d.withColumn(k, col(k) + col("__copy") * maxes(k))
      }
    }

    def write(df: DataFrame, dir: String, t: String): Unit =
      df.drop("__copy").repartition(32)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")

    Seq(1, copies).foreach { n =>
      val dir = s"$outDir/x$n"
      // dimension tables pass through untouched (FK targets stay valid)
      Seq("region", "nation").foreach(t => write(load(t), dir, t))
      write(shifted(load("customer"), Seq("c_custkey"), n), dir, "customer")
      write(shifted(load("supplier"), Seq("s_suppkey"), n), dir, "supplier")
      write(shifted(load("part"), Seq("p_partkey"), n), dir, "part")
      write(shifted(load("orders"), Seq("o_orderkey", "o_custkey"), n),
        dir, "orders")
      write(shifted(load("lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey"), n), dir, "lineitem")
      write(shifted(load("events"), Seq("event_id", "user_id"), n),
        dir, "events")
      val docs = shifted(load("documents"), Seq("doc_id"), n)
        .withColumn("text", when(col("__copy") === 0, col("text"))
          .otherwise(concat_ws(" ",
            expr("transform(split(text, ' '), t -> concat(t, '~', __copy))"))))
        .withColumn("n_chars", length(col("text")))
      write(docs, dir, "documents")
      val emb = shifted(load("embeddings"), Seq("vec_id"), n)
        .withColumn("embedding", expr(
          """transform(sequence(0, size(embedding) - 1),
            |  i -> element_at(embedding,
            |         cast((i + __copy) % size(embedding) as int) + 1))"""
            .stripMargin))
      write(emb, dir, "embeddings")
      println(s"wrote $dir")
    }
    spark.stop()
  }
}
