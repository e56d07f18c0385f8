package graft.storage

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table layout for co-located joins (the prompt's "bucketing for
  * co-located joins" scale lever): writing both sides of a recurring join
  * bucketed by the join key lets Spark plan a SortMergeJoin with NO
  * exchange on either side — at 100 TB the shuffle of the fact table is
  * usually the single most expensive stage of the pipeline, and bucketing
  * amortizes it into the write path once instead of every query.
  */
object Bucketing {

  /** Tri-state session conf switching the iterative graph operators
    * (k-core peel, BFS frontier) from per-round `localCheckpoint` to
    * per-round BUCKETED TABLE materialization. A checkpoint reports
    * UnknownPartitioning, so every downstream keyed operation re-shuffles
    * the full edge list each round — the r14 ×1000 depth audit measured
    * that tax as the one-box killer (shuffle scratch retained until
    * driver GC, > 55 GB at 1.1 B edges). A bucketed write gives the next
    * round a REPORTED HashPartitioning(key, nBuckets) at the price of a
    * local per-task bucket sort (no exchange), and the PREVIOUS round's
    * table can be dropped deterministically — scratch stays bounded by
    * about two rounds' tables, without splitting the loop's lineage.
    *
    * UNSET (the default) is AUTO: the operator enables the bucketed
    * shape when its leaf input scan crosses [[graft.Autoscale]]'s
    * threshold (default 2 GiB — above the measured ×100 crossover where
    * eager still wins, below the ×300 point where bucketed already wins
    * 1.46× and the ×1000 mass where eager DNFs one box),
    * so a ×1000 depth run completes with NO per-run conf while gate /
    * bench / ×100 plans are byte-identical to the flag-off shape.
    * "true"/"false" force the mode either way (the spec's result-identity
    * A/B and a 100 TB deployment that wants the bucketed shape below the
    * threshold both use the explicit settings).
    */
  val IterationsFlag = "spark.graft.bucketedIterations"

  /** Depth-mode decision for an iterative operator whose source scan is
    * `input` (the operator's own input plan — its file leaves carry the
    * size signal). Explicit flag wins; unset defers to [[graft.Autoscale]].
    */
  def iterationsEnabled(spark: SparkSession, input: DataFrame): Boolean = {
    val leaf = graft.Autoscale.leafScanBytes(input)
    val thr = graft.Autoscale.thresholdBytes(spark)
    val (chosen, mode) = spark.conf.getOption(IterationsFlag) match {
      case Some(v) => (v.equalsIgnoreCase("true"), "forced")
      case None => (leaf >= BigInt(thr), "auto")
    }
    graft.Autoscale.record(graft.Autoscale.callerOp, "bucketedIterations",
      leaf, thr, if (chosen) "bucketed" else "eager", mode)
    chosen
  }

  /** Drop every `graft_scratch_*` table. The depth-mode iterative ops
    * necessarily leave their FINAL adjacency generation behind — the
    * returned DataFrame lazily scans it, so the drop must follow the
    * caller's action (ProfileStages does this after each query's
    * materialization; `writeBucketed` additionally sweeps leftovers on
    * the next run so an aborted run never wedges the warehouse).
    */
  def dropScratch(spark: SparkSession): Unit =
    spark.sessionState.catalog.listTables("default")
      .map(_.table).filter(_.startsWith("graft_scratch_"))
      // qualified drop: an unqualified DROP resolves against the
      // session's CURRENT database, which need not be the `default` we
      // just listed (r16 advice — wrong-table drop / silent miss)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS default.`$t`"))

  /** Persist `df` as a bucketed managed table (overwrite). Also clears a
    * LEFTOVER warehouse directory from a previous JVM: the in-memory
    * catalog forgets tables across sessions but their managed locations
    * survive on disk, and `saveAsTable` refuses to adopt an existing
    * location (LOCATION_ALREADY_EXISTS) — so a re-run would fail without
    * the sweep.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // resolve the managed location through the CATALOG, not by string
    // concat under warehouse.dir: a qualified name (db.tbl) or a
    // non-default current database would otherwise sweep the wrong path
    // (and still die with LOCATION_ALREADY_EXISTS on the real one)
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(ident))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    val w = df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      // scratch is write-once/read-once and DISK-bound at depth scale
      // (×1000 adjacency generations: 16 GB snappy vs ~10 GB zstd, on a
      // box that dies at ~50 GB scratch) — bake the codec in so depth
      // runs need no per-run conf; a session-level codec conf does not
      // reach here because this option pins it per-write
      .option("compression", "zstd")
      .bucketBy(buckets, key)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Join two same-bucketed tables on their bucket key — exchange-free
    * when bucket counts match.
    */
  def coLocatedJoin(spark: SparkSession, leftTable: String, rightTable: String,
      leftKey: String, rightKey: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.table(leftTable)
      .join(spark.table(rightTable), col(leftKey) === col(rightKey))
  }
}
