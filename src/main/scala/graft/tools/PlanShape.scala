package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Structural signature of a query's physical plan — the plan-shape
  * regression gate's unit of comparison (VERDICT r10 item 2: 382 queries
  * are value-guarded by the oracle gate, but their PLANS were guarded by
  * only ~a dozen bespoke assertions, so a past win — q41's skinny
  * candidates, q316's checkpoint discipline — could silently regress).
  *
  * The counted node kinds are exactly the scale levers the verdicts
  * grade: exchanges (shuffles), broadcast vs sort-merge vs shuffled-hash
  * vs nested-loop joins, cartesian products, filters (a lost pushdown or
  * a dropped candidate-pruning filter changes this), parquet scans and
  * how many of them carry pushed filters, whole-stage codegen spans, and
  * whether any shuffle carries an array column (the q41/q83 class: fat
  * payloads riding a candidate exchange).
  */
final case class PlanSig(
    exchange: Int, broadcast: Int,
    bhj: Int, smj: Int, shj: Int, bnlj: Int, cartesian: Int,
    filter: Int, scan: Int, pushed: Int, codegen: Int,
    arrayExchange: Int, globalSort: Int) {
  def json: String =
    s"""{"exchange":$exchange,"broadcast":$broadcast,"bhj":$bhj,""" +
      s""""smj":$smj,"shj":$shj,"bnlj":$bnlj,"cartesian":$cartesian,""" +
      s""""filter":$filter,"scan":$scan,"pushed":$pushed,""" +
      s""""codegen":$codegen,"arrayExchange":$arrayExchange,""" +
      s""""globalSort":$globalSort}"""
}

/** The s-/p- gate's unit (VERDICT r12 item 3): the ordered pre-drain
  * streaming signatures plus the returned post-drain physical plan. */
final case class SpSig(drains: Seq[StreamSig], post: PlanSig) {
  def json: String =
    s"""{"drains":[${drains.map(_.json).mkString(",")}],"post":${post.json}}"""
}

object PlanShape {

  private def hasArray(dt: DataType): Boolean = dt match {
    case _: ArrayType => true
    case s: StructType => s.fields.exists(f => hasArray(f.dataType))
    case m: MapType => hasArray(m.keyType) || hasArray(m.valueType)
    case _ => false
  }

  /** All nodes of the plan INCLUDING subquery plans (scalar subqueries,
    * dynamic pruning) — `collect` alone stops at subquery expression
    * boundaries and would miss a cartesian hiding in one. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val here = p.collect { case n => n }
    here ++ here.flatMap(_.subqueries.flatMap(allNodes))
  }

  /** Signature of a DataFrame's physical plan. Callers must build `df`
    * with AQE DISABLED (see [[snapshot]]): under AQE the executed plan is
    * a single AdaptiveSparkPlanExec whose tree is not yet final, so node
    * counts would be unstable and partially hidden. */
  def of(df: DataFrame): PlanSig = {
    val nodes = allNodes(df.queryExecution.executedPlan)
    def count(f: PartialFunction[SparkPlan, Boolean]): Int =
      nodes.count(n => f.lift(n).getOrElse(false))
    PlanSig(
      exchange = count { case _: ShuffleExchangeExec => true },
      broadcast = count { case _: BroadcastExchangeExec => true },
      bhj = count { case _: BroadcastHashJoinExec => true },
      smj = count { case _: SortMergeJoinExec => true },
      shj = count { case _: ShuffledHashJoinExec => true },
      bnlj = count { case _: BroadcastNestedLoopJoinExec => true },
      cartesian = count { case _: CartesianProductExec => true },
      filter = count { case _: FilterExec => true },
      scan = count { case _: FileSourceScanExec => true },
      pushed = count { case s: FileSourceScanExec =>
        s.metadata.get("PushedFilters").exists(v => v != "[]" && v.nonEmpty)
      },
      codegen = count { case _: WholeStageCodegenExec => true },
      arrayExchange = count { case e: ShuffleExchangeExec =>
        e.output.exists(a => hasArray(a.dataType))
      },
      globalSort = count { case s: SortExec => s.global })
  }

  /** Build each named query at `dir` with AQE off and return its
    * signature. Queries whose functions EXECUTE at build time (eager
    * checkpoints, artifact loops) run those jobs — at sf0.001 this is the
    * cheap tier; the query boundary runs after each build so 322 builds
    * don't accumulate blocks. Failures are surfaced in the map (sig = None) so
    * the caller can fail loudly rather than silently snapshotting fewer
    * queries.
    */
  def snapshot(s: SparkSession, dir: String, names: Seq[String])
      : Seq[(String, Either[String, PlanSig])] = {
    graft.GraftSession.withConf(s, "spark.sql.adaptive.enabled", "false") {
      names.map { n =>
        val r =
          try Right(of(graft.SparkEntry.queries(n)(s, dir)))
          catch { case e: Throwable =>
            Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}") }
        graft.operators.TrackedCaches.releaseAll()
        (n, r)
      }
    }
  }

  /** The batch gate's scope: q* queries, whose returned plans ARE the
    * operator plans. s-/p- queries are gated separately ([[spSnapshot]])
    * because their functions run imperative drains: the real streaming
    * plans are captured PRE-DRAIN via [[StreamPlanCapture]], and the
    * returned post-drain read (projections/sorts over the sink) is
    * guarded as the `post` physical signature. */
  def gateNames: Seq[String] =
    graft.SparkEntry.queries.keys.toSeq.filter(_.startsWith("q")).sorted

  def spGateNames: Seq[String] =
    graft.SparkEntry.queries.keys.toSeq
      .filter(n => n.startsWith("s") || n.startsWith("p")).sorted

  /** Snapshot an s-/p- query: EXECUTE it (drains run — sf0.001 is the
    * cheap tier) with the stream-plan capture enabled, returning the
    * ordered per-drain streaming signatures plus the physical signature
    * of the returned (post-drain) frame, built AQE-off like the q gate. */
  def spSnapshot(s: SparkSession, dir: String, names: Seq[String])
      : Seq[(String, Either[String, SpSig])] = {
    // NOTE (ADVICE r13): StreamPlanCapture is a process-global
    // singleton — spSnapshot must NOT run concurrently with other
    // draining tests or their drain signatures would interleave. The
    // per-name enable/disable is try/finally-bracketed so no exit path
    // (including non-Exception Throwables) leaves capture enabled for
    // a later query to absorb.
    graft.GraftSession.withConf(s, "spark.sql.adaptive.enabled", "false") {
      names.map { n =>
        StreamPlanCapture.enable()
        val r =
          try {
            val df = graft.SparkEntry.queries(n)(s, dir)
            Right(SpSig(StreamPlanCapture.take(), of(df)))
          } catch { case e: Throwable =>
            Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
          } finally {
            StreamPlanCapture.disable()
            graft.operators.TrackedCaches.releaseAll()
          }
        (n, r)
      }
    }
  }

  def parseSpPlans(text: String): Map[String, SpSig] = {
    val entry =
      "\"([sp]\\d[^\"]*)\":\\{\"drains\":\\[([^\\]]*)\\],\"post\":(\\{[^}]*\\})\\}".r
    val drainRe = ("\\{\"mode\":\"([^\"]+)\",\"src\":(\\d+),\"wm\":(\\d+)," +
      "\"agg\":(\\d+),\"fmgws\":(\\d+),\"tws\":(\\d+),\"dedup\":(\\d+)," +
      "\"join\":(\\d+),\"union\":(\\d+),\"filter\":(\\d+)\\}").r
    val postRe = ("\\{\"exchange\":(\\d+),\"broadcast\":(\\d+),\"bhj\":(\\d+)," +
      "\"smj\":(\\d+),\"shj\":(\\d+),\"bnlj\":(\\d+),\"cartesian\":(\\d+)," +
      "\"filter\":(\\d+),\"scan\":(\\d+),\"pushed\":(\\d+)," +
      "\"codegen\":(\\d+),\"arrayExchange\":(\\d+),\"globalSort\":(\\d+)\\}").r
    entry.findAllMatchIn(text).map { m =>
      val drains = drainRe.findAllMatchIn(m.group(2)).map { d =>
        StreamSig(d.group(1), d.group(2).toInt, d.group(3).toInt,
          d.group(4).toInt, d.group(5).toInt, d.group(6).toInt,
          d.group(7).toInt, d.group(8).toInt, d.group(9).toInt,
          d.group(10).toInt)
      }.toSeq
      val post = postRe.findFirstMatchIn(m.group(3)).map { p =>
        PlanSig(p.group(1).toInt, p.group(2).toInt, p.group(3).toInt,
          p.group(4).toInt, p.group(5).toInt, p.group(6).toInt,
          p.group(7).toInt, p.group(8).toInt, p.group(9).toInt,
          p.group(10).toInt, p.group(11).toInt, p.group(12).toInt,
          p.group(13).toInt)
      }.getOrElse(sys.error(s"unparseable post sig for ${m.group(1)}"))
      m.group(1) -> SpSig(drains, post)
    }.toMap
  }

  def parsePlans(text: String): Map[String, PlanSig] = {
    val entry =
      ("\"(q[^\"]+)\":\\{\"exchange\":(\\d+),\"broadcast\":(\\d+),\"bhj\":(\\d+)," +
        "\"smj\":(\\d+),\"shj\":(\\d+),\"bnlj\":(\\d+),\"cartesian\":(\\d+)," +
        "\"filter\":(\\d+),\"scan\":(\\d+),\"pushed\":(\\d+)," +
        "\"codegen\":(\\d+),\"arrayExchange\":(\\d+),\"globalSort\":(\\d+)\\}").r
    entry.findAllMatchIn(text).map { m =>
      m.group(1) -> PlanSig(m.group(2).toInt, m.group(3).toInt,
        m.group(4).toInt, m.group(5).toInt, m.group(6).toInt,
        m.group(7).toInt, m.group(8).toInt, m.group(9).toInt,
        m.group(10).toInt, m.group(11).toInt, m.group(12).toInt,
        m.group(13).toInt, m.group(14).toInt)
    }.toMap
  }

  def render(sigs: Seq[(String, PlanSig)]): String =
    sigs.sortBy(_._1)
      .map { case (n, sig) => s""""$n":${sig.json}""" }
      .mkString("{\n", ",\n", "\n}\n")

  /** One committed file for all three families: q entries carry bare
    * physical signatures, s/p entries `{drains, post}` compounds. */
  def renderAll(q: Map[String, PlanSig], sp: Map[String, SpSig]): String =
    (q.view.mapValues(_.json).toSeq ++ sp.view.mapValues(_.json).toSeq)
      .sortBy(_._1)
      .map { case (n, j) => s""""$n":$j""" }
      .mkString("{\n", ",\n", "\n}\n")
}

/** Regenerates PLANS.json (the committed plan-shape baseline) — run this
  * DELIBERATELY when a plan change is intended, like a floors update:
  *
  *   sbt "runMain graft.tools.PlanSnapshot"          # all q* at sf0.001
  *   sbt "runMain graft.tools.PlanSnapshot q41 q83"  # refresh two entries
  *
  * PlanShapeSpec fails the suite on any un-acknowledged diff against the
  * committed file.
  */
object PlanSnapshot {
  def main(args: Array[String]): Unit = {
    val dir = "/root/testdata/sf0.001"
    def pick(all: Seq[String]): Seq[String] =
      if (args.isEmpty) all
      else all.filter(n => args.exists(a => n == a || n.startsWith(a + "_")))
    val qNames = pick(PlanShape.gateNames)
    val spNames = pick(PlanShape.spGateNames)
    val s = graft.GraftSession.local(4, "graft-plan-snapshot")
    val qOut = PlanShape.snapshot(s, dir, qNames)
    val spOut = PlanShape.spSnapshot(s, dir, spNames)
    s.stop()
    val failed = qOut.collect { case (n, Left(e)) => s"$n: $e" } ++
      spOut.collect { case (n, Left(e)) => s"$n: $e" }
    require(failed.isEmpty, s"plan build failed:\n${failed.mkString("\n")}")
    val freshQ = qOut.collect { case (n, Right(sig)) => (n, sig) }.toMap
    val freshSp = spOut.collect { case (n, Right(sig)) => (n, sig) }.toMap
    val file = java.nio.file.Paths.get("PLANS.json")
    val (priorQ, priorSp) =
      if (java.nio.file.Files.exists(file)) {
        val text = java.nio.file.Files.readString(file)
        (PlanShape.parsePlans(text), PlanShape.parseSpPlans(text))
      } else (Map.empty[String, PlanSig], Map.empty[String, SpSig])
    java.nio.file.Files.writeString(file,
      PlanShape.renderAll(priorQ ++ freshQ, priorSp ++ freshSp))
    val total = (priorQ ++ freshQ).size + (priorSp ++ freshSp).size
    println(s"PLANS.json: ${freshQ.size} q + ${freshSp.size} s/p " +
      s"refreshed, $total total")
  }
}
