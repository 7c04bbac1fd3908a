package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{LocalTableScanExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call: a named interval with a parent, plus the counts the
  * listeners attributed to it (Spark work arrives through the job group,
  * which is set to the span id while the span is open).
  */
final class Span(val id: Int, val parent: Int, val name: String,
                 val startNs: Long, val startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  val counts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  val tags: mutable.Map[String, String] = mutable.LinkedHashMap.empty
  def seconds: Double = (endNs - startNs) / 1e9
  def add(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v
}

/** Plan shape of one executed query: counts that repeat exactly run to run. */
final case class Census(exchanges: Int, wscg: Int, rddLeaves: Int,
                        fallback: Seq[String], kernels: Seq[String])

object Census {
  /** Every node of an executed plan, looking through AQE wrappers and into
    * subqueries. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => p.children ++ p.subqueries
    }
    p +: inner.flatMap(nodes)
  }

  def of(plan: SparkPlan): Census = {
    val all = nodes(plan)
    val exprs = all.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    Census(
      exchanges = all.count(_.isInstanceOf[Exchange]),
      wscg = all.count(_.isInstanceOf[WholeStageCodegenExec]),
      rddLeaves = all.count(p => p.isInstanceOf[LocalTableScanExec] ||
        p.getClass.getSimpleName.endsWith("RDDScanExec")),
      fallback = exprs.collect { case e: CodegenFallback => e.prettyName },
      kernels = exprs.filter(_.getClass.getName.startsWith("graft."))
        .map(_.prettyName))
  }
}

/** In-memory span recorder. Disabled, it only runs the body: the
  * end-to-end run takes its timings outside it, with no listener attached.
  */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val sc: SparkContext = spark.sparkContext
  private val listener = new Collector
  private val planEvents = mutable.ArrayBuffer.empty[(Double, Census)]

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val planMs = qe.tracker.phases.values.map(_.durationMs).sum
        val c = Census.of(qe.executedPlan)
        planEvents.synchronized(planEvents += (planMs / 1e3 -> c))
      }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  def span[T](name: String, tags: (String, String)*)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name,
        System.nanoTime(), System.currentTimeMillis())
      tags.foreach { case (k, v) => s.tags(k) = v }
      spans += s
      open = s :: open
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        // plan events of queries that finished inside this span belong to
        // it: the innermost open span drains them first
        org.apache.spark.perfbench.Bus.drain(sc)
        planEvents.synchronized {
          planEvents.foreach { case (planS, c) =>
            s.add("plan_s", planS)
            s.add("plans", 1)
            s.add("exchanges", c.exchanges)
            s.add("wscg_stages", c.wscg)
            s.add("rdd_leaves", c.rddLeaves)
            s.add("fallback_exprs", c.fallback.size)
            s.add("kernel_exprs", c.kernels.size)
            if (c.fallback.nonEmpty) s.tags("fallback") =
              (s.tags.get("fallback").toSeq ++ c.fallback).mkString(",")
            if (c.kernels.nonEmpty) s.tags("kernels") =
              (s.tags.get("kernels").toSeq ++ c.kernels).mkString(",")
          }
          planEvents.clear()
        }
      }
    }

  /** Attribute every listener record to its span; call once, at the end. */
  def finish(): Unit = if (enabled) {
    org.apache.spark.perfbench.Bus.drain(sc)
    listener.synchronized {
      listener.jobs.values.foreach { j =>
        spans.lift(j.group).foreach { s =>
          s.add("jobs", 1)
          s.tags("job_ms") = (s.tags.get("job_ms").toSeq :+ s"${j.start}-${j.end}").mkString(",")
        }
      }
      listener.stages.foreach { case (_, (group, m)) =>
        spans.lift(group).foreach { s =>
          s.add("stages", 1)
          m.foreach { case (k, v) => s.add(k, v) }
        }
      }
    }
  }

  /** Wall intervals (epoch ms) of the Spark jobs attributed to `ids`. */
  def jobIntervals(ids: Set[Int]): Seq[(Long, Long)] = listener.synchronized {
    listener.jobs.values.filter(j => ids.contains(j.group)).map(j => (j.start, j.end)).toSeq
  }

  /** `id` and every span below it. */
  def subtree(id: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(i: Int): Seq[Int] = i +: kids.getOrElse(i, Nil).toSeq.flatMap(s => go(s.id))
    go(id).toSet
  }
}

/** Job, stage and task records keyed by the job group (= span id). */
final class Collector extends SparkListener {
  final class Job(val group: Int, val start: Long) { var end: Long = start }
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  // stage id -> (group, summed task metrics)
  val stages = mutable.LinkedHashMap.empty[Int, (Int, mutable.Map[String, Double])]

  private def group(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .flatMap(_.toIntOption).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(group(e.properties), e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages(e.stageInfo.stageId) = (group(e.properties), mutable.LinkedHashMap.empty)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stages.get(e.stageId).foreach { case (_, agg) if m != null =>
      def add(k: String, v: Double): Unit = agg(k) = agg.getOrElse(k, 0.0) + v
      add("tasks", 1)
      add("task_run_s", m.executorRunTime / 1e3)
      add("task_cpu_s", m.executorCpuTime / 1e9)
      add("gc_s", m.jvmGCTime / 1e3)
      add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      add("input_mb", m.inputMetrics.bytesRead / 1e6)
    case _ => ()
    }
  }
}
