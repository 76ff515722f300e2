package org.apache.spark.graftbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark-side tracing: spans around each call the harness makes into
  * a graft layer, a SparkListener that hangs jobs and stages under the
  * span that caused them (the span id is the job group), and a
  * QueryExecutionListener for planning phases and final-plan node counts.
  * Everything stays in memory until the run writes its trace file. Lives in an
  * `org.apache.spark` package only to drain the listener bus before
  * reading. Registered only for traced runs: untraced runs carry none of it.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext

  final case class Span(id: Int, parent: Int, layer: String, name: String,
                        startNs: Long, var endNs: Long = 0L)
  final case class StageRec(stageId: Int, jobGroup: String, tasks: Int, runMs: Long,
                            cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
                            spill: Long, inputBytes: Long, skew: Double)
  final case class JobRec(jobId: Int, group: String, stageIds: Seq[Int])
  final case class PlanRec(group: String, analysisMs: Long, optimizerMs: Long,
                           planningMs: Long, exchanges: Int, topk: Int, asof: Int, scanBytes: Long)

  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val plans = mutable.ArrayBuffer.empty[PlanRec]
  private val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      // streaming micro-batch jobs carry their query's run id as job group;
      // they belong to the span that is feeding the batch
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("span-")).getOrElse(current)
      jobs += JobRec(e.jobId, g, e.stageIds)
      e.stageIds.foreach(stageGroup(_) = g)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (e.taskInfo != null)
        taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val s = e.stageInfo
      val m = s.taskMetrics
      val ds = taskMs.remove(s.stageId).map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
      val skew =
        if (ds.length >= 2 && ds(ds.length / 2) > 0) ds.last.toDouble / ds(ds.length / 2) else 1.0
      if (m != null) stages += StageRec(s.stageId, stageGroup.getOrElse(s.stageId, ""), s.numTasks,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.inputMetrics.bytesRead, skew)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      def phase(p: String) = qe.tracker.phases.get(p).map(_.durationMs).getOrElse(0L)
      val nodes = walk(qe.executedPlan)
      val group = current
      Tracer.this.synchronized {
        plans += PlanRec(group, phase("analysis"), phase("optimization"), phase("planning"),
          nodes.count(n => n.isInstanceOf[ShuffleExchangeLike] || n.isInstanceOf[BroadcastExchangeLike]),
          nodes.count(_.getClass.getSimpleName.startsWith("TopKPerKey")),
          nodes.count(_.getClass.getSimpleName.startsWith("AsOfJoinMerge")),
          nodes.flatMap(_.metrics.get("filesSize")).map(_.value).sum)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Every node of the final (post-AQE) plan, looking through query stages. */
  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case other => other +: other.children.flatMap(walk)
  }

  // the span open on the calling thread; listener events are drained at
  // every span end, so an event always sees the span that caused it
  @volatile private var current = ""

  private val codegenCount0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  sc.addSparkListener(listener)
  spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(qeListener)

  /** Runs `body` as a span of `layer`; Spark jobs it starts carry the
    * span id as their job group. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val id = synchronized { val s = Span(spans.length, stack.headOption.getOrElse(-1), layer, name,
      System.nanoTime() - t0); spans += s; s.id }
    stack = id :: stack
    current = s"span-$id"
    sc.setJobGroup(current, s"$layer:$name", interruptOnCancel = false)
    try body
    finally {
      spans(id).endNs = System.nanoTime() - t0
      drain()
      stack = stack.tail
      current = stack.headOption.map(p => s"span-$p").getOrElse("")
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-$p", s"${spans(p).layer}:${spans(p).name}", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def drain(): Unit = sc.listenerBus.waitUntilEmpty()

  /** Codegen compile milliseconds since this tracer was created (count ×
    * mean of Spark's compile-time histogram). */
  def codegenMs: Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount - codegenCount0) * h.getSnapshot.getMean
  }

  /** Job groups of the spans of `layer` whose name satisfies `keep`. */
  def groups(layer: String, keep: String => Boolean): Set[String] = synchronized {
    spans.filter(s => s.layer == layer && keep(s.name)).map(s => s"span-${s.id}").toSet
  }

  /** Summed wall seconds of the given spans. */
  def seconds(groups: Set[String]): Double = synchronized {
    spans.filter(s => groups.contains(s"span-${s.id}")).map(s => (s.endNs - s.startNs) / 1e9).sum
  }

  /** Span-tree descendants (inclusive) of the given span ids, as job groups. */
  def under(roots: Set[String]): Set[String] = synchronized {
    val kids = spans.groupBy(_.parent)
    def down(id: Int): Seq[Int] = id +: kids.get(id).toSeq.flatten.flatMap(s => down(s.id))
    val ids = roots.map(_.stripPrefix("span-").toInt).toSeq.flatMap(down).map(i => s"span-$i").toSet
    ids
  }

  /** Jobs started under any span called `name` (its whole subtree). */
  def jobsOfSpan(name: String): Int = {
    val roots = synchronized(spans.filter(_.name == name).map(s => s"span-${s.id}").toSet)
    jobsIn(under(roots)).size
  }

  def stagesIn(groups: Set[String]): Seq[StageRec] = synchronized {
    stages.filter(s => groups.contains(s.jobGroup)).toSeq
  }
  def jobsIn(groups: Set[String]): Seq[JobRec] = synchronized {
    jobs.filter(j => groups.contains(j.group)).toSeq
  }
  def plansIn(groups: Set[String]): Seq[PlanRec] = synchronized {
    plans.filter(p => groups.contains(p.group)).toSeq
  }

  /** The span tree with each span's jobs and stages, as JSON-ready maps. */
  def spanTree: Seq[Map[String, Any]] = synchronized {
    val jobsBy = jobs.groupBy(_.group)
    val stagesBy = stages.groupBy(_.jobGroup)
    spans.toSeq.map { s =>
      val g = s"span-${s.id}"
      Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6,
        "jobs" -> jobsBy.getOrElse(g, Seq.empty).map(j => Map("job" -> j.jobId, "stages" -> j.stageIds)),
        "stages" -> stagesBy.getOrElse(g, Seq.empty).map(st => Map(
          "stage" -> st.stageId, "tasks" -> st.tasks, "run_ms" -> st.runMs,
          "shuffle_write" -> st.shuffleWrite, "shuffle_read" -> st.shuffleRead,
          "input_bytes" -> st.inputBytes, "skew" -> st.skew)))
    }
  }

  def close(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.unregister(qeListener)
  }
}
