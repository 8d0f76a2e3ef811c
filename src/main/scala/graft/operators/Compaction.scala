package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables

/** Small-file compaction — the housekeeping operator every long-running
  * 100 TB lake needs: streaming sinks and per-batch dynamic-partition
  * writes accrete thousands of KB-sized files whose per-file open/footer
  * cost eventually dominates scan time. Compaction rewrites a directory
  * into ceil(totalBytes / targetBytes) files in one round-robin shuffle.
  *
  * Scale notes: the listing is driver-side metadata (names + lengths,
  * never data); the rewrite is a single `repartition(n)` whose
  * round-robin exchange spreads rows evenly regardless of input skew; at
  * 100 TB you run [[compactPartitioned]] so each partition directory is
  * its own bounded job and the layout (partition pruning!) survives.
  */
object Compaction {

  /** Rewrite `inDir` (parquet) into `outDir` with files sized toward
    * `targetBytes`. Returns (nFilesIn, nFilesOut). Flattens any
    * directory structure — for a hive-partitioned tree use
    * [[compactPartitioned]], which preserves the layout. */
  def compact(s: SparkSession, inDir: String, outDir: String,
      targetBytes: Long): (Int, Int) = {
    val conf = s.sparkContext.hadoopConfiguration
    val in = new Path(inDir)
    val fs = in.getFileSystem(conf)
    // RECURSIVE listing: partitioned directories keep their data files
    // in subdirectories — a top-level-only listing would size the job
    // from zero bytes and silently funnel everything into one file
    val it = fs.listFiles(in, true)
    val files = Iterator.continually(it)
      .takeWhile(_.hasNext).map(_.next())
      .filter(_.getPath.getName.endsWith(".parquet")).toSeq
    require(files.nonEmpty,
      s"compact: no parquet files under $inDir — nothing to size the rewrite from")
    val total = files.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    s.read.parquet(inDir)
      .repartition(nOut)
      .write.mode("overwrite").parquet(outDir)
    val outFiles = fs.listStatus(new Path(outDir))
      .count(_.getPath.getName.endsWith(".parquet"))
    (files.length, outFiles)
  }

  /** Compact every partition directory under `rootDir` IN PLACE,
    * preserving the hive layout (`k=v/...`) — flattening a partitioned
    * tree into one output would destroy partition pruning for every
    * reader thereafter. Returns per-partition (relativePath, nIn, nOut),
    * sorted by path.
    *
    * Each leaf (a directory directly holding `.parquet` files) is its
    * own bounded job: read leaf → `repartition(ceil(bytes/target))` →
    * write to a dot-prefixed staging dir INSIDE the leaf (hidden from
    * Spark's readers, so concurrent scans never see half a rewrite) →
    * delete the old files → move the staged ones in. The delete→move
    * window is not atomic — readers listing in that instant can see a
    * partial file set; a production lake does this swap through a table
    * format's (Iceberg/Delta) atomic snapshot commit, which is metadata
    * this engine doesn't own. Staging is keyed by applicationId so two
    * drivers compacting the same tree never share a staging dir. */
  def compactPartitioned(s: SparkSession, rootDir: String,
      targetBytes: Long): Seq[(String, Int, Int)] = {
    val conf = s.sparkContext.hadoopConfiguration
    val fs = new Path(rootDir).getFileSystem(conf)
    // qualify so URI-relativize below sees the same scheme/authority as
    // the listed leaves (fs.listFiles returns fully-qualified paths)
    val root = fs.makeQualified(new Path(rootDir))
    def hidden(p: Path): Boolean = {
      var cur = p
      while (cur != null && cur != root) {
        val n = cur.getName
        if (n.startsWith(".") || n.startsWith("_")) return true
        cur = cur.getParent
      }
      false
    }
    val it = fs.listFiles(root, true)
    val leaves = Iterator.continually(it)
      .takeWhile(_.hasNext).map(_.next().getPath)
      .filter(p => p.getName.endsWith(".parquet") && !hidden(p))
      .map(_.getParent).toSet
    require(leaves.nonEmpty,
      s"compactPartitioned: no parquet files under $rootDir")
    leaves.toSeq.sortBy(_.toString).map { leaf =>
      val files = fs.listStatus(leaf)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      val total = files.map(_.getLen).sum
      val nOut = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
      val staged = new Path(leaf, s".compact-${s.sparkContext.applicationId}")
      s.read.parquet(leaf.toString)
        .repartition(nOut)
        .write.mode("overwrite").parquet(staged.toString)
      files.foreach(f => fs.delete(f.getPath, false))
      fs.listStatus(staged)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .foreach(f => fs.rename(f.getPath, new Path(leaf, f.getPath.getName)))
      fs.delete(staged, true)
      val outN = fs.listStatus(leaf)
        .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      val rel = root.toUri.relativize(leaf.toUri).getPath.stripSuffix("/")
      (rel, files.length, outN)
    }
  }

  val all: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------- q62
    // Compaction contract: stage `events` as 64 deliberately-tiny files
    // (the streaming-sink accretion shape), compact toward 4 MB targets,
    // and emit the invariants — row count preserved, file count reduced —
    // plus an exact value checksum proving the rewrite moved every row
    // untouched. The oracle states the contract over the original table
    // (file counts are engine bookkeeping, not data, so only their
    // boolean invariants are output).
    QueryDef(
      "q62_small_file_compaction",
      (s, dir) => {
        val sf = Paths.get(dir).getFileName.toString
        val tmp = System.getProperty("java.io.tmpdir")
        // staging keyed by applicationId: `compacted` is REWRITTEN every
        // run (it is the operator under test), so two concurrent drivers
        // sharing an sf-keyed path would overwrite each other mid-read;
        // within one session the _SUCCESS guard still skips restaging
        val base = s"$tmp/graft_compact/${s.sparkContext.applicationId}/$sf"
        val small = s"$base/small"
        val compacted = s"$base/compacted"
        if (!Files.exists(Paths.get(small, "_SUCCESS"))) {
          Tables(s, dir, "events").repartition(64)
            .write.mode("overwrite").parquet(small)
        }
        val (nIn, nOut) = compact(s, small, compacted, 4L * 1024 * 1024)
        val rowsIn = s.read.parquet(small).count()
        s.read.parquet(compacted)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
          .withColumn("rows_preserved", col("n_rows") === lit(rowsIn))
          .withColumn("files_reduced", lit(nOut < nIn))
          .select("n_rows", "rows_preserved", "files_reduced", "sum_value")
      },
      Some("""
        SELECT COUNT(*) AS n_rows,
               TRUE AS rows_preserved,
               TRUE AS files_reduced,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events""")),

    // ---------------------------------------------------------------- q95
    // Dynamic partition-overwrite backfill — the correction primitive of
    // a partitioned lake: ONE hive partition (event_type=click) is
    // rewritten with corrected values (exact-decimal doubling) while
    // every other partition's files stay byte-identical (mtime-asserted
    // in CompactionSpec). The write carries
    // `partitionOverwriteMode=dynamic` as a PER-WRITE option, so only
    // partitions present in the corrected frame are replaced — static
    // mode would wipe the whole table. Backfill is staged once per
    // fixture content (both writes derive from the source table, so
    // unlike q62's rewrite-every-run staging the result is reusable
    // across sessions); constructions after it stay lazy.
    QueryDef(
      "q95_partition_backfill",
      (s, dir) => {
        val base = Staging.ensure("backfill", dir, s"$dir/events.parquet") { d =>
          val fact = d.resolve("fact").toString
          Tables.events(s, dir)
            .select(col("event_id"), col("ts_us"), col("value"), col("event_type"))
            .write.mode("overwrite").partitionBy("event_type").parquet(fact)
          val corrected = Tables.events(s, dir)
            .filter(col("event_type") === "click")
            .select(col("event_id"), col("ts_us"),
              (Exact.dec2(col("value")) * 2).cast("double").as("value"),
              col("event_type"))
          corrected.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("event_type").parquet(fact)
          ""
        }
        s.read.parquet(base.resolve("fact").toString)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(13,2)")).cast("double").as("sum_value"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(CASE WHEN event_type = 'click'
                             THEN CAST(value AS DECIMAL(12,2)) * 2
                             ELSE CAST(value AS DECIMAL(12,2)) END) AS DOUBLE)
                 AS sum_value
        FROM events
        GROUP BY event_type
        ORDER BY event_type""")),

    // --------------------------------------------------------------- q175
    // Compression-codec round-trip — the storage decision a 100 TB
    // deployment tunes first (zstd for cold data, snappy for hot): the
    // same lineitem projection writes through gzip, snappy, and zstd
    // parquet and each copy reads back to an exact (row count, integer
    // checksum) audit, so a codec that corrupted or dropped anything
    // cannot hash-match. The write path really exercises all three
    // codecs (CodecSpec asserts the file names carry each codec's
    // extension); staging is applicationId-keyed per run.
    QueryDef(
      "q175_codec_roundtrip",
      (s, dir) => {
        val base = Paths.get(System.getProperty("java.io.tmpdir"),
          "graft_codec_roundtrip", s.sparkContext.applicationId)
        Files.createDirectories(base)
        // NOTE (r14): spreading this write to 32 tasks was measured
        // SLOWER (2.87 s vs ~2.4 s) — 3 codecs × 32 near-empty output
        // files pay more in task/commit/footer overhead than the
        // parallel encode saves at this input size, and many tiny files
        // is the wrong layout anyway (guide §6). Kept single-partition.
        val src = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"),
            expr("cast(cast(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)")
              .as("qc"))
        val perCodec = Seq("gzip", "snappy", "zstd").map { codec =>
          val out = base.resolve(codec).toString
          src.write.mode("overwrite").option("compression", codec).parquet(out)
          s.read.parquet(out)
            .agg(count(lit(1)).as("n_rows"),
              sum(expr("l_orderkey * 31 + qc")).as("checksum"))
            .select(lit(codec).as("codec"), col("n_rows"), col("checksum"))
        }
        perCodec.reduce(_ unionByName _).orderBy("codec")
      },
      Some("""
        WITH src AS (
          SELECT l_orderkey,
                 CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS qc
          FROM lineitem),
        a AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM(l_orderkey * 31 + qc) AS BIGINT) AS checksum
          FROM src)
        SELECT codec, n_rows, checksum
        FROM (VALUES ('gzip'), ('snappy'), ('zstd')) v(codec), a
        ORDER BY codec"""))
  )
}
