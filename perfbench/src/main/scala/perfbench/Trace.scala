package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}

/** In-memory spans: workload → phase → query/request/batch →
  * construct/settle/action. Disabled, `span` only runs its body, so
  * the untraced run pays nothing. Each thread keeps its own parent
  * stack; a client thread names its parent explicitly.
  */
object Tracer {
  final case class Span(id: Int, parent: Int, level: String, name: String,
                        startNs: Long, var endNs: Long = -1L)
}

final class Tracer(val enabled: Boolean, val traceId: String) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private val t0 = System.nanoTime()

  def current: Int = stack.get.headOption.getOrElse(-1)

  def span[T](level: String, name: String, parent: Int = -2)(body: => T): T =
    if (!enabled) body
    else {
      val p = if (parent == -2) current else parent
      val s = spans.synchronized {
        val s = Span(spans.size, p, level, name, System.nanoTime())
        spans += s
        s
      }
      stack.set(s.id :: stack.get)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.set(stack.get.tail)
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** The enclosing span of `id` at `level`, if any. */
  def ancestor(id: Int, level: String): Option[Span] = {
    val byId = all.map(s => s.id -> s).toMap
    Iterator.iterate(byId.get(id))(_.flatMap(s => byId.get(s.parent)))
      .takeWhile(_.isDefined).flatten.find(_.level == level)
  }

  /** Self time (own duration minus children's) summed per level. */
  def selfTimes: Map[String, Double] = {
    val ss = all.filter(_.endNs >= 0)
    val childSum = ss.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    ss.groupBy(_.level).map { case (lvl, xs) =>
      lvl -> xs.map(s => s.endNs - s.startNs - childSum.getOrElse(s.id, 0L))
        .sum / 1e9 }
  }

  def toJson(stageBySpan: Map[Int, Map[String, Any]]): Seq[Map[String, Any]] =
    all.map { s =>
      Map[String, Any]("trace_id" -> traceId, "id" -> s.id, "parent" -> s.parent,
        "level" -> s.level, "name" -> s.name,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9) ++
        stageBySpan.get(s.id).map(m => Map("stages" -> m)).getOrElse(Map.empty)
    }
}

/** Task/stage totals per Spark job group. The harness names each
  * traced span's jobs with the span id as job group; jobs started
  * under any other group (streaming micro-batches run in the query's
  * own group) are charged to `fallback`, the phase span current when
  * the job started.
  */
final class StageListener extends SparkListener {
  final class Acc {
    var jobs = 0; var stages = 0; var tasks = 0L
    var taskMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inBytes = 0L; var shwBytes = 0L; var shrBytes = 0L; var spillBytes = 0L
    val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

    def +=(o: Acc): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
      cpuNs += o.cpuNs; gcMs += o.gcMs; inBytes += o.inBytes
      shwBytes += o.shwBytes; shrBytes += o.shrBytes; spillBytes += o.spillBytes
      o.stageTaskMs.foreach { case (k, v) => stageTaskMs.getOrElseUpdate(k,
        mutable.ArrayBuffer.empty) ++= v }
    }

    /** max over stages of (max task time / median task time) */
    def skew: Double = {
      val rs = stageTaskMs.values.filter(_.nonEmpty).map { ts =>
        val s = ts.sorted
        val med = s(s.size / 2).max(1L)
        s.last.toDouble / med
      }
      if (rs.isEmpty) 1.0 else rs.max
    }

    def toMap: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
      "tasks" -> tasks, "task_s" -> taskMs / 1e3, "task_cpu_s" -> cpuNs / 1e9,
      "gc_s" -> gcMs / 1e3, "input_mb" -> inBytes / 1048576.0,
      "shuffle_write_mb" -> shwBytes / 1048576.0,
      "shuffle_read_mb" -> shrBytes / 1048576.0,
      "spill_mb" -> spillBytes / 1048576.0, "skew" -> skew)
  }

  @volatile var fallback: Int = -1
  private val stageGroup = mutable.Map.empty[Int, Int]
  private val byGroup = mutable.Map.empty[Int, Acc]

  private def acc(g: Int): Acc = byGroup.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.stripPrefix("span-").toIntOption).getOrElse(fallback)
    e.stageIds.foreach(stageGroup(_) = g)
    acc(g).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc(stageGroup.getOrElse(e.stageInfo.stageId, fallback)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageId, fallback))
    a.tasks += 1
    a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      a.taskMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inBytes += m.inputMetrics.bytesRead
      a.shwBytes += m.shuffleWriteMetrics.bytesWritten
      a.shrBytes += m.shuffleReadMetrics.totalBytesRead
      a.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
    }
  }

  /** Totals of every group `keep` accepts (a group is a span id). */
  def total(keep: Int => Boolean): Acc = synchronized {
    val t = new Acc
    byGroup.foreach { case (g, a) => if (keep(g)) t += a }
    t
  }
}

/** Operator census of a final (post-AQE) executed plan, subqueries
  * included. InMemoryTableScan does not descend into the cached plan:
  * that work was paid where the memo was built.
  */
object PlanCensus {
  val keys: Seq[String] = Seq("exchanges", "reused_exchanges", "scans", "bnlj", "smj", "bhj")

  def apply(plan: SparkPlan): Map[String, Int] = {
    val n = mutable.Map(keys.map(_ -> 0): _*)
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
        case q: QueryStageExec => walk(q.plan); return
        case _: ShuffleExchangeExec | _: BroadcastExchangeExec => n("exchanges") += 1
        case _: ReusedExchangeExec => n("reused_exchanges") += 1
        case _: BroadcastNestedLoopJoinExec => n("bnlj") += 1
        case _: SortMergeJoinExec => n("smj") += 1
        case _: BroadcastHashJoinExec => n("bhj") += 1
        case s if s.children.isEmpty && s.nodeName.contains("Scan") => n("scans") += 1
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach {
        case _: ReusedSubqueryExec =>
        case s => walk(s)
      }
    }
    walk(plan)
    n.toMap
  }
}
