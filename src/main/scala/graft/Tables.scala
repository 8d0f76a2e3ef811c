package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated fixture tables (see TESTDATA.md).
  *
  * All readers are plain parquet scans so Catalyst can push filters and
  * prune columns straight into the scan (check `PushedFilters`/`ReadSchema`
  * in `.explain("formatted")`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Epoch-microsecond Column for an events-shaped frame's `ts` field,
    * adaptive to BOTH fixture generations the driver has shipped:
    *   - parquet TIMESTAMP(NANOS) read as Long nanoseconds (sessions set
    *     `spark.sql.legacy.parquet.nanosAsLong=true`) → integer `div 1000`;
    *   - parquet timestamp[us] read as TIMESTAMP_NTZ/TIMESTAMP → cast to
    *     TimestampType (identity on the UTC wall clock — every session pins
    *     `spark.sql.session.timeZone=UTC`) then `unix_micros`.
    * Both land on the same epoch microseconds DuckDB's
    * `epoch_us(CAST(ts AS TIMESTAMP))` produces, so oracle time math is
    * exact integer arithmetic either way. */
  def tsUsCol(df: DataFrame): org.apache.spark.sql.Column =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }

  /** Events loader deriving the two canonical time columns:
    *   - `ts_us`: epoch microseconds (Long) — exact integer arithmetic, used
    *     for all oracle-checked time math (DuckDB: `epoch_us(CAST(ts AS TIMESTAMP))`);
    *   - `ts_t`:  TimestampType at microsecond precision, for window()/watermark ops.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = apply(spark, dir, "events")
    raw
      .withColumn("ts_us", tsUsCol(raw))
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
  }

  /** Spread a scan-rooted frame across the session's cores before
    * CPU-heavy narrow work (r14 optimization, guide §2.5 "one huge
    * unsplittable file").
    *
    * The fixture tables are single-file, single-ROW-GROUP parquet. A
    * parquet scan can only parallelize across row groups — byte-range
    * splits assign each row group to the split holding its midpoint —
    * so every scan of these tables is ONE task regardless of
    * `maxPartitionBytes`, and any expensive narrow chain above it
    * (explode / featurize / regex / hash) serializes on one core while
    * 31 idle. Measured on the shared classifier-gram build at sf0.1:
    * the explode stage alone was 13.2 s single-task; spread, 0.6 s.
    *
    * One hash exchange of the slim input buys a fully parallel compute
    * stage. The partition-count guard keeps this a no-op wherever the
    * scan already parallelizes — at production scale inputs arrive as
    * many files/row groups, so the guard (not a tuned constant) is what
    * makes the call scale-correct; hash-by-key (not round-robin) keeps
    * the exchange deterministic under retries (SPARK-38388).
    *
    * PRECONDITION (ADVICE r14): the partition probe reads
    * `df.rdd.getNumPartitions`, which forces physical planning and —
    * under AQE — eagerly EXECUTES any upstream shuffle stages as real
    * jobs at plan-build time. The guard below makes that safe for any
    * caller: a frame whose pre-AQE physical plan already contains an
    * exchange is returned unchanged WITHOUT touching `.rdd` (its
    * compute stage is already `shuffle.partitions`-wide — spreading it
    * again would only add a second exchange), so the `.rdd` probe only
    * ever runs on exchange-free (scan/union/localcheckpoint-rooted)
    * plans, where it builds the RDD lineage without running a job. */
  def spread(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val shuffleRooted = df.queryExecution.sparkPlan.exists {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => true
      case _ => false
    }
    if (shuffleRooted) return df
    // r15 sf1-gate fix: `getNumPartitions >= cores` LIES for few-file
    // parquet — Spark plans byte-range splits, but a row group is read
    // only by the split holding its midpoint, so a 125 MB single-row-
    // group lineitem reports 32 partitions of which 31 are EMPTY and
    // the no-op guard left the whole chain on one task (q216 at sf1:
    // 26 s single-task Levenshtein; q281/q285/q103 same shape). The
    // guard now bounds effective scan parallelism by the scanned
    // parquet files' TOTAL ROW-GROUP COUNT (footers read once per file
    // per JVM, memoized — files are immutable within a run). Non-
    // parquet leaves keep the partition-count probe: their splits (or
    // per-file partitions) are real.
    val files = df.inputFiles
    val effective: Long =
      if (files.isEmpty) df.rdd.getNumPartitions.toLong
      else if (files.length >= cores) cores.toLong // many files: splits real
      else {
        val conf = df.sparkSession.sessionState.newHadoopConf()
        val groups = files.map(f =>
          if (f.endsWith(".parquet")) parquetRowGroups(f, conf) else Int.MaxValue.toLong)
        math.min(df.rdd.getNumPartitions.toLong, groups.sum)
      }
    if (effective >= cores) df else df.repartition(cores, key)
  }

  private val rowGroupCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def parquetRowGroups(
      file: String, conf: org.apache.hadoop.conf.Configuration): Long =
    rowGroupCounts.computeIfAbsent(file, f => {
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRowGroups.size().toLong
        finally r.close()
      } catch {
        // unreadable footer: do not block the no-op path on it
        case scala.util.control.NonFatal(_) => Int.MaxValue.toLong
      }
    })
}

/** One SparkSession configuration for every entrypoint (Verify, Bench,
  * tests), so correctness runs and benchmarks see identical semantics.
  * Every session it builds carries [[graft.plans.GraftExtensions]] (the
  * `graft_*` kernels and the range-join rule), and so does each of its
  * `newSession()` siblings.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Fixture tables are single small parquet files; the default 128 MB
      // split size would scan each on ONE core. 8 MB splits give the
      // local[32] bench real scan parallelism; on a production cluster
      // with many files per table the default is the right setting.
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      // The default openCostInBytes (4 MB) bills every file 4 MB of
      // phantom size, so a 5,000-tiny-file binaryFile scan (q38) plans
      // ~2 files per partition — 2,500 near-empty tasks whose scheduling
      // dwarfs the 20 MB of I/O (measured 5.4 s → 0.95 s). 64 KB bills
      // small files realistically and leaves every parquet fixture file
      // (all ≫ 64 KB) packed exactly as before.
      .config("spark.sql.files.openCostInBytes", (64 * 1024).toString)
      .config("spark.ui.enabled", "false")

  /** Run `body` with `key` set to `value` on `s`. Afterwards the key
    * gets its previous value back, or is unset if it had none, also when
    * `body` throws. */
  def withConf[T](s: SparkSession, key: String, value: String)(body: => T): T = {
    val prev = s.conf.getOption(key)
    s.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** A `newSession()` sibling of `s` — same SparkContext and cache, its
    * own SQL conf and temp views — for a query whose conf must not leak
    * into its caller's session. A sibling's conf starts from the
    * SparkConf, so it first takes `s`'s `spark.sql.adaptive.enabled`
    * value (a caller's AQE pin, e.g. the plan-shape gate's, then holds
    * for the sibling too), then applies `confs`. */
  def sibling(s: SparkSession, confs: (String, String)*): SparkSession = {
    val s2 = s.newSession()
    val aqe = "spark.sql.adaptive.enabled"
    s2.conf.set(aqe, s.conf.get(aqe))
    confs.foreach { case (k, v) => s2.conf.set(k, v) }
    s2
  }

  /** Apply graft settings onto an externally-built session (for the
    * driver-owned mains whose builder shape we keep intact). */
  def local(cpus: Int, app: String): SparkSession = {
    val s = builder(s"local[$cpus]", math.max(cpus, 4)).appName(app).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
