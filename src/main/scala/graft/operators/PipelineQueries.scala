package graft.operators

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.{Pipeline, PipelineConfig}

/** Oracle-checked queries over the transfer pipeline (SURVEY §2.1-§2.8).
  *
  * Each query materializes a deterministic job workload from the
  * `documents` fixture (one file per document, content = `text`), runs the
  * REAL pipeline — JSON parse (P1), validate-split (P2), config lookup
  * (J1), factory dispatch (T2), local backend (S4/K2), staged transfer
  * map (T1), DLQ projection (E1/E2) — and returns aggregate
  * outcome counts that a DuckDB oracle can predict from the fixture alone
  * (texts are ASCII, so transferred bytes == n_chars; verified in
  * PipelineSpec at byte level).
  *
  * Spark restatement of the reference E2E harness:
  * /root/reference/tests/test_e2e.py:354-394 (local→local roundtrip),
  * :151-202 (DLQ on missing file), :204-245 (DLQ on invalid JSON).
  */
object PipelineQueries {

  /** Registry for the local→local workloads. */
  private def localConfig: PipelineConfig = PipelineConfig(
    "LOCALSRC_TYPE" -> "local", "LOCALSRC_HOST" -> "localhost",
    "LOCALDST_TYPE" -> "local", "LOCALDST_HOST" -> "localhost",
    // An endpoint whose type has no registered backend (T2 dispatch error
    // path, base.py:100-105):
    "TAPE_TYPE" -> "s3", "TAPE_HOST" -> "localhost")

  /** `docs` staged once per fixture content as `<base>/src/doc_<id>.txt`;
    * returns `<base>` (the pipeline writes its outputs to `<base>/dst`).
    * Once, not per run: re-writing ~5000 files on every bench iteration
    * measured test scaffolding, not the pipeline (VERDICT r9 item 6). */
  private def stagedBase(name: String, dir: String, docs: DataFrame): String =
    Staging.ensure(name, dir, s"$dir/documents.parquet") { d =>
      Staging.writeDocFiles(docs, d.resolve("src").toString, "txt")
      ""
    }.toString

  /** Build raw JSON job messages (the Kafka value strings of S1) from
    * documents; host/path arguments are SQL column expressions so error
    * workloads can vary them per row. */
  private def jobMessages(docs: DataFrame,
      srcHost: org.apache.spark.sql.Column, dstHost: org.apache.spark.sql.Column,
      sourcePath: org.apache.spark.sql.Column, destPath: org.apache.spark.sql.Column): DataFrame =
    docs.select(
      to_json(struct(
        concat(lit("job-"), col("doc_id")).as("job_id"),
        struct(srcHost.as("hostname"), sourcePath.as("path")).as("source"),
        struct(dstHost.as("hostname"), destPath.as("path")).as("destination")))
        .as("value"))

  /** One localsrc→localdst job per doc of `docs`, from
    * `<base>/src/doc_<id>.txt` to `<base>/dst/doc_<id>.txt`. */
  private def localJobs(docs: DataFrame, base: String): DataFrame =
    jobMessages(docs, lit("localsrc"), lit("localdst"),
      concat(lit(s"$base/src/doc_"), col("doc_id"), lit(".txt")),
      concat(lit(s"$base/dst/doc_"), col("doc_id"), lit(".txt")))

  /** Run the pipeline and return outcome counts; the transfers run on
    * the counts' first action. */
  private def statusCounts(spark: SparkSession, raw: DataFrame, pc: PipelineConfig): DataFrame = {
    val (results, _) = Pipeline.run(raw, pc)
    results.groupBy("status", "error_type")
      .agg(count(lit(1)).as("n_jobs"), sum("bytes").as("total_bytes"))
      .orderBy("status", "error_type")
  }

  /** p06/p08 shared: stage `docs` as `<root>/src/doc_<id>.txt` inside
    * the FTP server's storage (driver-local disk IS the remote server's
    * storage here) and run one ftp→ftp job per doc through the
    * reference's pool size of 4 (config.py:42); returns the outcome
    * counts, with the transfers executed. */
  private def bulkFtpCounts(s: SparkSession,
      server: graft.pipeline.testkit.FakeFtpServer, root: java.nio.file.Path,
      docs: DataFrame): DataFrame = {
    Staging.writeDocFiles(docs, s"$root/src", "txt")
    val pc = PipelineConfig(
      "BULKFTP_TYPE" -> "ftp", "BULKFTP_HOST" -> "127.0.0.1",
      "BULKFTP_PORT" -> server.port.toString,
      "BULKFTP_USERNAME" -> "u", "BULKFTP_PASSWORD" -> "p",
      "FTP_POOL_SIZE" -> "4")
    val raw = jobMessages(docs, lit("bulkftp"), lit("bulkftp"),
      concat(lit("/src/doc_"), col("doc_id"), lit(".txt")),
      concat(lit("/dst/doc_"), col("doc_id"), lit(".txt")))
    val counts = statusCounts(s, raw, pc)
    counts.count() // the transfers run here, while the server is up
    counts
  }

  val all: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------- p01
    // Happy path: every document round-trips local→local through the full
    // parse→lookup→transfer map; byte counts must equal n_chars sums.
    QueryDef(
      "p01_local_roundtrip_status_counts",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val base = stagedBase("p01", dir, docs)
        val raw = localJobs(docs, base)
        statusCounts(s, raw, localConfig)
      },
      Some("""
        SELECT 'success' AS status, CAST(NULL AS VARCHAR) AS error_type,
               COUNT(*) AS n_jobs,
               CAST(SUM(n_chars) AS BIGINT) AS total_bytes
        FROM documents""")),

    // ---------------------------------------------------------------- p02
    // DLQ on missing source file (test_e2e.py:151-202): every 10th job
    // points at a nonexistent path → FileNotFound → dlq/not_found.
    QueryDef(
      "p02_dlq_on_missing_source",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val base = stagedBase("p02", dir, docs.filter(col("doc_id") % 10 =!= 0))
        val raw = localJobs(docs, base)
        statusCounts(s, raw, localConfig)
      },
      Some("""
        SELECT CASE WHEN doc_id % 10 = 0 THEN 'dlq' ELSE 'success' END AS status,
               CASE WHEN doc_id % 10 = 0 THEN 'not_found' ELSE NULL END AS error_type,
               COUNT(*) AS n_jobs,
               CAST(SUM(CASE WHEN doc_id % 10 = 0 THEN 0 ELSE n_chars END) AS BIGINT) AS total_bytes
        FROM documents
        GROUP BY 1, 2
        ORDER BY status, error_type""")),

    // ---------------------------------------------------------------- p03
    // DLQ on unparseable JSON (test_e2e.py:204-245, consumer.py:198-209):
    // every 7th message is corrupt; the parse split must route it with the
    // reference's "Failed to parse message" error and keep the raw text.
    QueryDef(
      "p03_dlq_on_corrupt_json",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val base = stagedBase("p03", dir, docs.filter(col("doc_id") % 7 =!= 0))
        val good = jobMessages(docs.filter(col("doc_id") % 7 =!= 0), lit("localsrc"), lit("localdst"),
          concat(lit(s"$base/src/doc_"), col("doc_id"), lit(".txt")),
          concat(lit(s"$base/dst/doc_"), col("doc_id"), lit(".txt")))
        val corrupt = docs.filter(col("doc_id") % 7 === 0)
          .select(concat(lit("{invalid json "), substring(col("text"), 1, 20)).as("value"))
        val raw = good.unionByName(corrupt)
        val (results, dlq) = Pipeline.run(raw, localConfig)
        // Outcome union: executed jobs by status + parse-failure DLQ rows,
        // proving per-error-class routing incl. the error message prefix.
        results.groupBy("status", "error_type").agg(count(lit(1)).as("n"))
          .unionByName(
            dlq.filter(col("error_type") === "parse")
              .select(lit("dlq_raw").as("status"),
                substring(col("error"), 1, 23).as("error_type"), lit(1L).as("n"))
              .groupBy("status", "error_type").agg(sum("n").as("n")))
          .orderBy("status", "error_type")
      },
      Some("""
        SELECT 'dlq_raw' AS status, 'Failed to parse message' AS error_type,
               COUNT(*) AS n
        FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT 'success' AS status, NULL AS error_type, COUNT(*) AS n
        FROM documents WHERE doc_id % 7 <> 0
        ORDER BY status, error_type""")),

    // ---------------------------------------------------------------- p04
    // Config-lookup failure (J1 error path, config.py:104-106): every 5th
    // job's destination hostname is unknown → dlq/config; the rest succeed.
    QueryDef(
      "p04_unknown_host_to_dlq",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val base = stagedBase("p04", dir, docs)
        val raw = jobMessages(docs,
          lit("localsrc"),
          when(col("doc_id") % 5 === 0, "mystery").otherwise("localdst"),
          concat(lit(s"$base/src/doc_"), col("doc_id"), lit(".txt")),
          concat(lit(s"$base/dst/doc_"), col("doc_id"), lit(".txt")))
        statusCounts(s, raw, localConfig)
      },
      Some("""
        SELECT CASE WHEN doc_id % 5 = 0 THEN 'dlq' ELSE 'success' END AS status,
               CASE WHEN doc_id % 5 = 0 THEN 'config' ELSE NULL END AS error_type,
               COUNT(*) AS n_jobs,
               CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE n_chars END) AS BIGINT) AS total_bytes
        FROM documents
        GROUP BY 1, 2
        ORDER BY status, error_type""")),

    // ---------------------------------------------------------------- p05
    // Factory-dispatch failure (T2 error path, base.py:100-105): every 4th
    // job's destination is a registered host of an UNSUPPORTED type (s3)
    // → dlq/type; the rest succeed.
    QueryDef(
      "p05_unsupported_type_to_dlq",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val base = stagedBase("p05", dir, docs)
        val raw = jobMessages(docs,
          lit("localsrc"),
          when(col("doc_id") % 4 === 0, "tape").otherwise("localdst"),
          concat(lit(s"$base/src/doc_"), col("doc_id"), lit(".txt")),
          concat(lit(s"$base/dst/doc_"), col("doc_id"), lit(".txt")))
        statusCounts(s, raw, localConfig)
      },
      Some("""
        SELECT CASE WHEN doc_id % 4 = 0 THEN 'dlq' ELSE 'success' END AS status,
               CASE WHEN doc_id % 4 = 0 THEN 'type' ELSE NULL END AS error_type,
               COUNT(*) AS n_jobs,
               CAST(SUM(CASE WHEN doc_id % 4 = 0 THEN 0 ELSE n_chars END) AS BIGINT) AS total_bytes
        FROM documents
        GROUP BY 1, 2
        ORDER BY status, error_type""")),

    // ---------------------------------------------------------------- p06
    // FTP→FTP bulk roundtrip — the Spark restatement of the reference's
    // published benchmark (README.md:468-480: 1,000 files, 21.73 files/s,
    // FTP pool_size=4; harness tests/test_e2e.py:397-491). Runs the REAL
    // FTP stack: raw-socket client, passive mode, per-executor pool of 4
    // (reference parity) against an in-process server. Up to 1,000 files
    // (doc_id < 1000) download-from-FTP → in-memory stage → upload-to-FTP
    // per job.
    // The bench duration of this query ÷ file count is the files/s number
    // comparable to BASELINE.md's 21.73.
    QueryDef(
      "p06_ftp_bulk_roundtrip",
      (s, dir) => {
        Sources.withFtpServer("graft-p06-ftp") { (server, root) =>
          bulkFtpCounts(s, server, root,
            Tables(s, dir, "documents").filter(col("doc_id") < 1000))
        }
      },
      Some("""
        SELECT 'success' AS status, CAST(NULL AS VARCHAR) AS error_type,
               COUNT(*) AS n_jobs,
               CAST(SUM(n_chars) AS BIGINT) AS total_bytes
        FROM documents
        WHERE doc_id < 1000""")),

    // ---------------------------------------------------------------- p07
    // DLQ replay convergence (Pipeline.replayDlq — the operation the
    // reference stores retry_count for but never implements,
    // message.py:130): run p02's missing-file workload (every 10th source
    // absent → dlq/not_found), then FIX the missing files and replay the
    // DLQ. Every replayed job must succeed and the remaining DLQ must be
    // empty — replay-until-converged is exactly how a 100 TB deployment
    // drains transient-failure backlogs.
    QueryDef(
      "p07_dlq_replay_convergence",
      (s, dir) => {
        // FRESH dir per invocation (not the shared cached staging): the
        // fix step below creates the "missing" files, and a reused dir
        // would hand the next invocation an already-fixed first pass
        val base = Files.createTempDirectory("graft-p07").toString
        val docs = Tables(s, dir, "documents")
        Staging.writeDocFiles(docs.filter(col("doc_id") % 10 =!= 0), s"$base/src", "txt")
        val raw = localJobs(docs, base)
        val (r1, dlq1) = Pipeline.run(raw, localConfig)
        // the first pass executes here, BEFORE the fix below; its
        // outcomes stay cached for the counts and the replay
        r1.count()
        // operator intervention: the missing files appear
        Staging.writeDocFiles(docs.filter(col("doc_id") % 10 === 0), s"$base/src", "txt")
        val (r2, dlq2) = Pipeline.replayDlq(dlq1, localConfig)
        val first = r1.groupBy("status")
          .agg(count(lit(1)).as("n_jobs"), sum("bytes").as("total_bytes"))
          .select(lit("first").as("phase"), col("status"), col("n_jobs"), col("total_bytes"))
        val replay = r2.groupBy("status")
          .agg(count(lit(1)).as("n_jobs"), sum("bytes").as("total_bytes"))
          .select(lit("replay").as("phase"), col("status"), col("n_jobs"), col("total_bytes"))
        val remaining = dlq2
          .agg(count(lit(1)).as("n_jobs"))
          .select(lit("replay").as("phase"), lit("dlq_remaining").as("status"),
            col("n_jobs"), lit(0L).as("total_bytes"))
        first.unionByName(replay).unionByName(remaining)
          .orderBy("phase", "status")
      },
      Some("""
        SELECT 'first' AS phase,
               CASE WHEN doc_id % 10 = 0 THEN 'dlq' ELSE 'success' END AS status,
               COUNT(*) AS n_jobs,
               CAST(SUM(CASE WHEN doc_id % 10 = 0 THEN 0 ELSE n_chars END) AS BIGINT) AS total_bytes
        FROM documents
        GROUP BY 1, 2
        UNION ALL
        SELECT 'replay' AS phase, 'success' AS status, COUNT(*) AS n_jobs,
               CAST(SUM(n_chars) AS BIGINT) AS total_bytes
        FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT 'replay' AS phase, 'dlq_remaining' AS status,
               CAST(0 AS BIGINT) AS n_jobs, CAST(0 AS BIGINT) AS total_bytes
        ORDER BY phase, status""")),

    // ---------------------------------------------------------------- p08
    // Pool-contention stress one order above p06 (VERDICT r13 item 5):
    // up to 10,000 files (doc_id < 10000 — the full corpus at sf≤0.1,
    // 10k exactly at sf1) through the same 4-connection FTP pool, PLUS
    // an oracle-gated temp-cleanup audit p06 lacks: runOne's two-phase
    // map (download→stage→upload, consumer.py:152-186) must delete any
    // graft-transfer-*.tmp file its stage spilled on EVERY path, and at
    // 10k jobs a leak would strand 10k files in the tmpdir — the audit row
    // counts stranded NEW temp files after the drain (snapshot-diff, so
    // leftovers from unrelated crashed JVMs can't false-fail) and the
    // oracle pins it at zero. files/s here ÷ p06's rate is the
    // linearity evidence: a pool that serializes under 10× contention
    // shows up as a super-linear slot. (Single-JVM audit: on a real
    // cluster each executor audits its own tmpdir; here local[n] shares
    // one.)
    QueryDef(
      "p08_ftp_bulk_contention",
      (s, dir) => {
        val tmpDir = Paths.get(System.getProperty("java.io.tmpdir"))
        def tempSnapshot(): Set[String] = {
          val st = Files.list(tmpDir)
          try st.iterator().asScala.map(_.getFileName.toString)
            .filter(n => n.startsWith("graft-transfer-") && n.endsWith(".tmp"))
            .toSet
          finally st.close()
        }
        Sources.withFtpServer("graft-p08-ftp") { (server, root) =>
          val docs = Tables(s, dir, "documents").filter(col("doc_id") < 10000)
          val before = tempSnapshot()
          // p06 parity: contention rises, the pool doesn't; the
          // transfers execute inside
          val counts = bulkFtpCounts(s, server, root, docs)
          val leftover = (tempSnapshot() -- before).size.toLong
          val audit = s.createDataFrame(Seq(
            ("zz_temp_audit", "leftover_tmp", leftover, 0L)))
            .toDF("status", "error_type", "n_jobs", "total_bytes")
          counts.unionByName(audit).orderBy("status", "error_type")
        }
      },
      Some("""
        SELECT 'success' AS status, CAST(NULL AS VARCHAR) AS error_type,
               COUNT(*) AS n_jobs,
               CAST(SUM(n_chars) AS BIGINT) AS total_bytes
        FROM documents
        WHERE doc_id < 10000
        UNION ALL
        SELECT 'zz_temp_audit' AS status, 'leftover_tmp' AS error_type,
               CAST(0 AS BIGINT) AS n_jobs, CAST(0 AS BIGINT) AS total_bytes
        ORDER BY status, error_type"""))
  )
}
