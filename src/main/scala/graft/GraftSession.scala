package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every `main` under `src/main` builds its
  * session here (a source lint in `CheckpointPolicyLintSpec` keeps it
  * that way), so the gate, the bench and the tools run one configuration.
  *
  * Defaults, each overridable by a pair the caller passes:
  *   - master `SPARK_GRAFT_MASTER`, else `local[SPARK_GRAFT_CPUS]`
  *     (default 4 cores), and `spark.sql.shuffle.partitions` = cores;
  *   - UI off and `UTC` session time zone;
  *   - `spark.sql.legacy.parquet.nanosAsLong`: events.parquet stores `ts`
  *     as TIMESTAMP(NANOS), which Spark reads only as a long (nanos since
  *     epoch); `Tables.events` converts it to micros;
  *   - a 10,000-entry codegen class cache: the default 100 entries thrash
  *     across a 286-query run, so every query's next run recompiled its
  *     whole plan (measured r10: an interleaved 6-query min-of-3 went
  *     10.1 → 4.6 s from this one setting). On a cluster each query is
  *     its own application and compiles once; charging query N for
  *     queries 1..N-1 evicting its classes is an artifact of one long JVM;
  *   - under a `local-cluster[...]` master, executors are fresh JVMs
  *     launched by the in-process worker: they get the driver's classpath,
  *     [[moduleOpens]] and `SPARK_GRAFT_EXECUTOR_MEM` (default 6g).
  *
  * The log level is WARN.
  */
object GraftSession {

  /** Local cores: the default master's width and shuffle partition count. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Spark's canonical JDK-17 module opens (same list as
    * `tools/spark_java.sh` / `org.apache.spark.launcher.JavaModuleOptions`)
    * for worker-launched executor JVMs, which don't inherit the driver's
    * command line. Without them any task whose blocks spill to disk dies
    * in Kryo reflection ("Unable to create serializer ... HeapByteBuffer"),
    * the r10 x100 finding.
    */
  val moduleOpens: String = Seq(
    "-XX:+IgnoreUnrecognizedVMOptions",
    "--add-modules=jdk.incubator.vector",
    "--add-opens=java.base/java.lang=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.reflect=ALL-UNNAMED",
    "--add-opens=java.base/java.io=ALL-UNNAMED",
    "--add-opens=java.base/java.net=ALL-UNNAMED",
    "--add-opens=java.base/java.nio=ALL-UNNAMED",
    "--add-opens=java.base/java.util=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED",
    "--add-opens=java.base/jdk.internal.ref=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.cs=ALL-UNNAMED",
    "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
    "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
    "--add-opens=java.security.jgss/sun.security.krb5=ALL-UNNAMED",
    "-Djdk.reflect.useDirectMethodHandle=false",
    "-Dio.netty.tryReflectionSetAccessible=true").mkString(" ")

  /** Periodic driver GC for long and deep runs (r15 finding): a big driver
    * heap may never GC, so ContextCleaner never releases finished queries'
    * shuffle files and a ×1000 run fills the disk. Costs a few no-op GCs
    * at gate scale; a `-Dspark.cleaner.periodicGC.interval` still wins.
    */
  def periodicGC: (String, String) = "spark.cleaner.periodicGC.interval" ->
    sys.props.getOrElse("spark.cleaner.periodicGC.interval", "60s")

  /** The session with the defaults above, then `conf` (later pairs win). */
  def apply(conf: (String, String)*): SparkSession = {
    val settings = Seq(
      "spark.master" -> sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"),
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "10000") ++ conf
    val cluster =
      if (!settings.toMap.apply("spark.master").startsWith("local-cluster")) Nil
      else Seq(
        "spark.executor.extraClassPath" -> System.getProperty("java.class.path"),
        "spark.executor.extraJavaOptions" -> moduleOpens,
        "spark.executor.memory" ->
          sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "6g"))
    val spark = (cluster ++ settings)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
