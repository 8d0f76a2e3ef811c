package graft.operators

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables

/** Non-parquet source coverage (SURVEY §2.9 row 1: CSV / JSON / binary
  * scans): each query materializes a deterministic derived copy of a
  * fixture table in the target format (staged once per fixture content
  * through [[Staging.ensure]]), reads it back through the corresponding
  * Spark source, and aggregates — the DuckDB oracle computes the same
  * result from the original parquet, so the round-trip through the
  * format is what's being checked.
  *
  * 100 TB scale: CSV/JSON sources split by line across executors
  * (maxPartitionBytes), schema is always explicit (never inferSchema —
  * inference is a full extra pass at scale); binaryFile scans carry
  * (path, length, content) with pushed path filters and never shuffle
  * payloads.
  */
object Sources {

  /** Runs `body(server, root)` against an in-process FTP server whose
    * storage is a fresh temp dir `root` (prefix `name`), then closes the
    * transfer pools, stops the server and removes `root` and `cleanup`
    * off the timed path. A frame `body` returns must be materialized and
    * cut from its lineage (localCheckpoint) inside `body`: the query
    * function's lifetime outlives the server, and a persist alone could
    * be evicted and recompute against a dead endpoint. */
  private[operators] def withFtpServer[A](name: String, cleanup: Path*)(
      body: (graft.pipeline.testkit.FakeFtpServer, Path) => A): A = {
    val root = Files.createTempDirectory(name)
    val server = new graft.pipeline.testkit.FakeFtpServer(root)
    try body(server, root)
    finally {
      graft.pipeline.transfer.FtpPools.closeAll()
      server.stop()
      StagingCleanup.async(root +: cleanup: _*)
    }
  }

  /** q38/q47/q56/s14 shared: (doc_id, length, head4) of staged
    * `doc_<id>.bin` files (path, length, content), by doc_id. */
  private def docHeads(files: DataFrame): DataFrame =
    files.select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1).cast("long").as("doc_id"),
        col("length"),
        substring(col("content"), 1, 4).cast("string").as("head4"))
      .orderBy("doc_id")

  /** The oracle of every (doc_id, length, head4) read-back. */
  private def docHeadsOracle: String = """
        SELECT doc_id, CAST(n_chars AS BIGINT) AS length,
               substr(text, 1, 4) AS head4
        FROM documents
        ORDER BY doc_id"""

  val all: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------- q36
    // CSV scan: orders → CSV (explicit schema, no inference) → aggregate.
    QueryDef(
      "q36_csv_scan",
      (s, dir) => {
        val out = Staging.ensure("csv", dir, s"$dir/orders.parquet") { d =>
          Tables(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_totalprice"), col("o_orderpriority"))
            .write.mode("overwrite").option("header", "true").csv(d.resolve("csv").toString)
          ""
        }.resolve("csv").toString
        s.read
          .schema("o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, o_orderpriority STRING")
          .option("header", "true")
          .csv(out)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), Exact.dsum(col("o_totalprice")).as("sum_total"))
          .orderBy("o_orderstatus")
      },
      Some("""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus""")),

    // ---------------------------------------------------------------- q37
    // JSON-lines scan: documents → JSONL → read with explicit schema.
    QueryDef(
      "q37_json_scan",
      (s, dir) => {
        val out = Staging.ensure("json", dir, s"$dir/documents.parquet") { d =>
          Tables(s, dir, "documents")
            .select(col("doc_id"), col("lang"), col("n_chars"))
            .write.mode("overwrite").json(d.resolve("json").toString)
          ""
        }.resolve("json").toString
        s.read
          .schema("doc_id BIGINT, lang STRING, n_chars BIGINT")
          .json(out)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
          .orderBy("lang")
      },
      Some("""
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY lang
        ORDER BY lang""")),

    // ---------------------------------------------------------------- q38
    // binaryFile scan: documents staged as one file each (the multimodal
    // payload layout), read via the binaryFile source — (path, length,
    // content) —, metadata aggregated. Payload bytes stay on executors.
    QueryDef(
      "q38_binaryfile_scan",
      (s, dir) => {
        val out = Staging.ensure("bin", dir, s"$dir/documents.parquet") { d =>
          Staging.writeDocFiles(Tables(s, dir, "documents"), d.resolve("bin").toString, "bin")
          ""
        }.resolve("bin").toString
        docHeads(s.read.format("binaryFile")
          .option("pathGlobFilter", "*.bin")
          .load(out))
      },
      Some(docHeadsOracle)),

    // ---------------------------------------------------------------- q47
    // FTP as a first-class spark.read source (DataSource V2,
    // graft.sources.FtpDataSource): documents staged on an in-process FTP
    // server, listed once on the driver, payloads fetched executor-side
    // through the connection pool — then queried like any DataFrame.
    QueryDef(
      "q47_ftp_dsv2_source",
      (s, dir) => {
        withFtpServer("graft-q47-ftp") { (server, root) =>
          Staging.writeDocFiles(Tables(s, dir, "documents"), s"$root/docs", "bin")
          docHeads(s.read.format("graft-ftp")
            .option("host", "127.0.0.1").option("port", server.port.toString)
            .option("username", "u").option("password", "p")
            .option("pool.size", "32") // localhost server: one connection per core
            .load("/docs"))
            .localCheckpoint(eager = true)
        }
      },
      Some(docHeadsOracle)),

    // ---------------------------------------------------------------- q56
    // graft-ftp WRITE path round-trip: documents uploaded through the
    // DataSource V2 writer (executor-side STOR to temp names, rename on
    // task commit) and read back through the same source — both halves of
    // the connector against one live server. Rows fan out to match the
    // pool so write parallelism equals connection count.
    QueryDef(
      "q56_ftp_dsv2_write_roundtrip",
      (s, dir) => {
        withFtpServer("graft-q56-ftp") { (server, _) =>
          val opts = Map(
            "host" -> "127.0.0.1", "port" -> server.port.toString,
            "username" -> "u", "password" -> "p", "pool.size" -> "32")
          Tables(s, dir, "documents")
            .select(
              concat(lit("/docs/doc_"), col("doc_id"), lit(".bin")).as("path"),
              length(col("text")).cast("long").as("length"),
              col("text").cast("binary").as("content"))
            .repartition(32)
            .write.format("graft-ftp").options(opts)
            .mode("append").save("/docs")
          docHeads(s.read.format("graft-ftp").options(opts).load("/docs"))
            .localCheckpoint(eager = true)
        }
      },
      Some(docHeadsOracle)),

    // ---------------------------------------------------------------- s14
    // FTP as a Structured Streaming SOURCE (graft.sources.
    // FtpMicroBatchStream): the reference's poll loop (consumer.py:90-98)
    // as a DSv2 MicroBatchStream — each trigger lists the tree and the
    // files new since the committed offset become the micro-batch;
    // payloads fetch executor-side through the pools. Here an
    // AvailableNow drain ingests the staged corpus and must match q47's
    // batch-read oracle exactly: stream vs batch reads of the same
    // landing zone cannot disagree.
    QueryDef(
      "s14_ftp_stream_source",
      (s, dir) => {
        val out = Files.createTempDirectory("graft-s14-out").toString
        val cp = Files.createTempDirectory("graft-s14-cp").toString
        withFtpServer("graft-s14-ftp", Paths.get(out), Paths.get(cp)) { (server, root) =>
          Staging.writeDocFiles(Tables(s, dir, "documents"), s"$root/docs", "bin")
          val ftpStream = s.readStream.format("graft-ftp")
            .option("host", "127.0.0.1").option("port", server.port.toString)
            .option("username", "u").option("password", "p")
            .option("pool.size", "32")
            .load("/docs")
          // plan-shape capture for the DSv2 FTP stream (bespoke sink path)
          graft.tools.StreamPlanCapture.record(ftpStream, "ForeachBatch")
          val q = ftpStream
            .writeStream
            .option("checkpointLocation", cp)
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
              b.write.mode("append").parquet(out)
              ()
            }
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          docHeads(s.read.parquet(out)).localCheckpoint(eager = true)
        }
      },
      Some(docHeadsOracle)),

    // ---------------------------------------------------------------- q61
    // ORC scan: lineitem → ORC (Spark's built-in columnar alternative;
    // zlib by default) → aggregate. Same round-trip contract as
    // q36-q38: the oracle computes from the original parquet, so what's
    // checked is that the ORC write+read preserves values exactly. ORC
    // scans support predicate pushdown and column pruning like parquet —
    // the read projects 3 of 4 staged columns and PlanAudit can assert
    // the pruned ReadSchema.
    QueryDef(
      "q61_orc_scan",
      (s, dir) => {
        val out = Staging.ensure("orc", dir, s"$dir/lineitem.parquet") { d =>
          Tables(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_returnflag"),
              col("l_quantity"), col("l_extendedprice"))
            .write.mode("overwrite").orc(d.resolve("orc").toString)
          ""
        }.resolve("orc").toString
        s.read.orc(out)
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"),
            sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double").as("sum_price"))
          .orderBy("l_returnflag")
      },
      Some("""
        SELECT l_returnflag, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // ---------------------------------------------------------------- q68
    // Schema evolution: a long-lived lake accretes files written under
    // different schema generations. Stage gen=1 (two columns) and gen=2
    // (adds o_orderpriority), then read the parent with
    // mergeSchema=true — partition discovery surfaces `gen`, schema
    // merge back-fills the added column with null for gen-1 rows, and
    // the query coalesces them into an explicit 'missing' bucket.
    // At 100 TB: mergeSchema reconciles footers at planning (per-file
    // metadata, not data); the alternative — rewriting history on every
    // added column — is exactly what this avoids.
    QueryDef(
      "q68_schema_evolution_scan",
      (s, dir) => {
        val base = Staging.ensure("schema_evo", dir, s"$dir/orders.parquet") { d =>
          val orders = Tables(s, dir, "orders")
          orders.filter(col("o_orderkey") % 2 === 0)
            .select(col("o_orderkey"), col("o_totalprice"))
            .write.mode("overwrite").parquet(d.resolve("lake/gen=1").toString)
          orders.filter(col("o_orderkey") % 2 === 1)
            .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
            .write.mode("overwrite").parquet(d.resolve("lake/gen=2").toString)
          ""
        }.resolve("lake").toString
        s.read.option("mergeSchema", "true").parquet(base)
          .groupBy(coalesce(col("o_orderpriority"), lit("missing")).as("prio"))
          .agg(count(lit(1)).as("n"), Exact.dsum(col("o_totalprice")).as("sum_total"))
          .orderBy("prio")
      },
      Some("""
        SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'missing'
                    ELSE o_orderpriority END AS prio,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total
        FROM orders
        GROUP BY 1
        ORDER BY prio""")),

    // ---------------------------------------------------------------- q85
    // XML scan: part → XML (Spark 4's native XML source, one <part>
    // element per row) → read back with an explicit schema and rowTag →
    // aggregate. Same discipline as q36/q37: never infer schemas at
    // scale (XML inference is a full extra pass). The oracle aggregates
    // the original parquet — the round-trip is what's under test.
    QueryDef(
      "q85_xml_scan",
      (s, dir) => {
        val out = Staging.ensure("xml", dir, s"$dir/part.parquet") { d =>
          Tables(s, dir, "part")
            .select(col("p_partkey"), col("p_brand"), col("p_size"),
              col("p_retailprice"))
            .write.mode("overwrite")
            .option("rootTag", "parts").option("rowTag", "part")
            .format("xml").save(d.resolve("xml").toString)
          ""
        }.resolve("xml").toString
        s.read
          .schema("p_partkey BIGINT, p_brand STRING, p_size INT, p_retailprice DOUBLE")
          .option("rowTag", "part")
          .format("xml").load(out)
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_parts"),
            sum(col("p_size").cast("long")).as("sum_size"),
            Exact.dsum(col("p_retailprice")).as("sum_price"))
          .orderBy("p_brand")
      },
      Some("""
        SELECT p_brand, COUNT(*) AS n_parts,
               CAST(SUM(p_size) AS BIGINT) AS sum_size,
               CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        FROM part
        GROUP BY p_brand
        ORDER BY p_brand"""))
  ,

    // --------------------------------------------------------------- q112
    // Semi-structured processing through Spark 4's VARIANT type: nested
    // JSON (synthesized deterministically from event columns — the
    // fixture's own props are flat) is parsed ONCE into variant's
    // binary encoding, then typed paths are extracted with
    // variant_get — nested object hop AND array index. This is the
    // Spark-4-native path for schema-flexible columns: parse once,
    // extract many, no per-access string re-parse and no rigid
    // from_json schema that breaks when producers add fields.
    // Scale: one narrow projection (parse + extracts live in the same
    // codegen stage), then a map-side-combined keyed aggregate — the
    // JSON string itself never shuffles.
    QueryDef(
      "q112_variant_extract",
      (s, dir) => {
        val cents = "cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)"
        Tables(s, dir, "events")
          .withColumn("j", expr(
            s"""concat('{"e":{"t":"', event_type, '","v":', $cents,
                       '},"tags":[', user_id % 5, ',', user_id % 7, ']}')"""))
          .withColumn("v", expr("parse_json(j)"))
          .select(
            expr("variant_get(v, '$.e.t', 'string')").as("etype"),
            expr("variant_get(v, '$.e.v', 'bigint')").as("cents"),
            expr("variant_get(v, '$.tags[0]', 'bigint')").as("tag0"))
          .groupBy("etype")
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
            sum("tag0").as("sum_tag0"))
          .orderBy("etype")
      },
      // the oracle builds the IDENTICAL JSON and extracts with DuckDB's
      // json functions — both engines must agree through a real parse
      Some("""
        WITH j AS (
          SELECT '{"e":{"t":"' || event_type || '","v":' ||
                 CAST(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                      AS VARCHAR) ||
                 '},"tags":[' || CAST(user_id % 5 AS VARCHAR) || ',' ||
                 CAST(user_id % 7 AS VARCHAR) || ']}' AS doc
          FROM events)
        SELECT json_extract_string(doc, '$.e.t') AS etype,
               COUNT(*) AS n,
               CAST(SUM(CAST(json_extract(doc, '$.e.v') AS BIGINT)) AS BIGINT)
                 AS sum_cents,
               CAST(SUM(CAST(json_extract(doc, '$.tags[0]') AS BIGINT)) AS BIGINT)
                 AS sum_tag0
        FROM j
        GROUP BY etype
        ORDER BY etype"""))
  )
}
