package graftbench

import org.apache.spark.sql.DataFrame

import graft.SparkEntry
import graft.operators.{ClassifierArtifacts, GramFrames, PairGraph, SharedBuilds, TrackedCaches}

/** The analytics mix: a fixed list of SparkEntry queries over generated
  * fixtures, batch family then streaming family, in one session.
  *
  * The warm-up pass writes every result as parquet; the checker compares
  * those with the queries' DuckDB oracles. Timed passes drain each query
  * through the `noop` sink. Memoized shared builds are dropped before
  * every pass, so each pass pays them the way a fresh run does. */
object Analytics {
  private def resetMemos(): Unit = {
    PairGraph.reset(); ClassifierArtifacts.reset(); GramFrames.reset()
  }

  def run(ctx: Ctx, mix: Seq[String], fixtures: String): Seq[Map[String, Any]] = {
    val queries = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val results = ctx.out.resolve("results")
    // a query that fails here leaves no result, which the checker counts
    mix.foreach { q =>
      try queries(q)(ctx.spark, fixtures).coalesce(1).write.mode("overwrite")
        .parquet(results.resolve(q).toString)
      catch { case e: Throwable => System.err.println(s"[graftbench] $q failed: $e") }
      finally TrackedCaches.releaseAll()
    }
    resetMemos()
    java.nio.file.Files.writeString(ctx.out.resolve("oracle_sql.json"),
      Json.value(mix.flatMap(q => oracles.get(q).map(q -> _)).toMap))
    ctx.setupDone()
    ctx.timedPasses { (i, mode) =>
      pass(ctx, queries, mix, fixtures, f"pass$i%02d", mode)
    }
  }

  private def pass(ctx: Ctx, queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame],
      mix: Seq[String], fixtures: String, name: String, mode: String): Map[String, Any] = {
    val engine = mode == Mode.Engine
    var errors = Seq.empty[String]
    val walls = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Long, Long)]
    val builds = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val w = ctx.window(mode, name) { passId =>
      mix.foreach { q =>
        val b0 = SharedBuilds.timingCount
        val t0 = System.nanoTime()
        val w0 = System.currentTimeMillis()
        try queries(q)(ctx.spark, fixtures).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => errors :+= s"$q: ${e.getMessage}" }
        finally TrackedCaches.releaseAll()
        val t1 = System.nanoTime()
        walls(q) = ((t1 - t0) / 1e9, w0, System.currentTimeMillis())
        val qb = SharedBuilds.timingsSince(b0)
        builds ++= qb
        if (engine) {
          val id = Trace.nextId()
          Trace.record(id, passId, q, "query", t0, t1)
          // SharedBuilds reports self seconds only; the span is anchored at
          // the query start
          qb.foreach { case (tag, s) =>
            Trace.record(Trace.nextId(), id, q, s"build.$tag", t0, t0 + (s * 1e9).toLong)
          }
        }
      }
    }
    resetMemos()
    val layer = if (!engine) Map.empty[String, Double] else {
      val perQuery = walls.toSeq.flatMap { case (q, (s, w0, w1)) =>
        val id = q.takeWhile(_ != '_')
        val e = ctx.layer.window(w0, w1)
        Seq(s"query.${id}_s" -> s, s"query.$id.eff_parallelism" -> e("eff_parallelism"),
          s"query.$id.serial_stages" -> e("serial_stages"))
      }
      val byTag = builds.groupBy(_._1).map { case (t, xs) => s"build.${t}_s" -> xs.map(_._2).sum }
      Map("build.count" -> builds.size.toDouble) ++ byTag ++ perQuery ++
        w.stream.map { case (k, v) => s"stream.$k" -> v } ++
        Map("stream.overhead_ms" -> (w.stream("trigger_ms") - w.stream("add_batch_ms"))) ++
        w.engine.map { case (k, v) => s"spark.$k" -> v }
    }
    Map("name" -> name, "mode" -> mode, "wall_s" -> w.wallS, "errors" -> errors,
      "queries" -> walls.map { case (q, (s, _, _)) => q -> s }.toMap, "layer" -> layer,
      "span_counts" -> Trace.counts(w))
  }
}
