package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.metrics.source.CodegenMetrics

/** One timed interval around a call into a layer of graft. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

/** Named counters summed over a set of spans. */
final class Counts {
  val m = mutable.LinkedHashMap[String, Double]()
  def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
  def ++=(o: Counts): Unit = o.m.foreach { case (k, v) => add(k, v) }
  def apply(k: String): Double = m.getOrElse(k, 0.0)
}

/** Spans and per-span counters of one benchmark run. Spans are kept in
  * memory and written out when the run ends. With tracing off, [[span]]
  * only runs its body: no job group, no listener, no extra planning.
  */
final class Tracer(val on: Boolean) {
  private val ids = new AtomicLong(0)
  private val stack = mutable.Stack[Long](0L)
  val spans = mutable.ArrayBuffer[Span]()
  /** Counters a span's own code recorded (plan phases, plan shape, ...). */
  val counts = mutable.HashMap[Long, Counts]()
  var listener: Option[JobListener] = None

  def attach(sc: SparkContext): Unit = if (on) {
    val l = new JobListener
    sc.addSparkListener(l)
    listener = Some(l)
  }

  def current: Long = stack.top

  def span[A](name: String, sc: Option[SparkContext] = None)(body: => A): A = {
    if (!on) return body
    val id = ids.incrementAndGet()
    val parent = stack.top
    stack.push(id)
    sc.foreach(_.setJobGroup(id.toString, name, interruptOnCancel = false))
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      sc.foreach { c =>
        if (stack.top == 0L) c.clearJobGroup()
        else c.setJobGroup(stack.top.toString, "", interruptOnCancel = false)
      }
      spans += Span(id, parent, name, t0, t1)
    }
  }

  def record(k: String, v: Double): Unit =
    if (on) counts.getOrElseUpdate(current, new Counts).add(k, v)

  /** Counters of `root` and every span below it, job counters included. */
  def subtree(root: Long): Counts = {
    val children = spans.groupBy(_.parent)
    val out = new Counts
    def walk(id: Long): Unit = {
      counts.get(id).foreach(out ++= _)
      listener.foreach(l => Option(l.groups.get(id.toString)).foreach(out ++= _))
      children.getOrElse(id, Nil).foreach(s => walk(s.id))
    }
    walk(root)
    out
  }

  def toJsonLines: Iterator[String] = spans.sortBy(_.startNs).iterator.map { s =>
    val c = counts.get(s.id).map(_.m).getOrElse(Map.empty) ++
      listener.flatMap(l => Option(l.groups.get(s.id.toString))).map(_.m).getOrElse(Map.empty)
    val cj = c.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},"counts":$cj}"""
  }
}

object Tracer { val off = new Tracer(false) }

/** Job, stage and task counters per job group, from Spark's listener bus.
  * The group id is the id of the span that was open when the job was
  * submitted, so every job lands on the layer call that caused it.
  */
final class JobListener extends SparkListener {
  val groups = new ConcurrentHashMap[String, Counts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  private val stageFirstLaunch = new ConcurrentHashMap[Int, Long]()
  private val jobsOpen = new AtomicLong(0)
  @volatile var lastEventNs: Long = System.nanoTime()

  private def bump(): Unit = lastEventNs = System.nanoTime()

  // events arrive on the single listener-bus thread; counters are read
  // after drain()
  private def add(group: String, k: String, v: Double): Unit =
    if (group != null) groups.computeIfAbsent(group, _ => new Counts).add(k, v)

  private def groupOf(p: java.util.Properties): String =
    if (p == null) null else p.getProperty("spark.jobGroup.id")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    bump(); jobsOpen.incrementAndGet()
    add(groupOf(e.properties), "sched.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = { bump(); jobsOpen.decrementAndGet() }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    bump()
    val g = groupOf(e.properties)
    if (g != null) stageGroup.put(e.stageInfo.stageId, g)
    stageSubmitted.put(e.stageInfo.stageId, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    add(g, "sched.stages", 1)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    bump()
    stageFirstLaunch.putIfAbsent(e.stageId, e.taskInfo.launchTime)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    bump()
    val id = e.stageInfo.stageId
    val sub = stageSubmitted.remove(id)
    val first = stageFirstLaunch.remove(id)
    if (first != 0L || stageGroup.containsKey(id))
      add(stageGroup.get(id), "sched.delay_s", math.max(0L, first - sub) / 1e3)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    bump()
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    add(g, "sched.tasks", 1)
    if (m != null) {
      val in = m.inputMetrics
      if (in.recordsRead > 0 || in.bytesRead > 0) {
        add(g, "scan.rows", in.recordsRead.toDouble)
        add(g, "scan.bytes", in.bytesRead.toDouble)
        add(g, "scan.tasks", 1)
      }
      add(g, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(g, "shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(g, "shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add(g, "spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add(g, "exec.run_s", m.executorRunTime / 1e3)
      add(g, "exec.cpu_s", m.executorCpuTime / 1e9)
      add(g, "exec.gc_s", m.jvmGCTime / 1e3)
    }
  }

  /** Wait until the listener bus has delivered every event of the jobs
    * run so far: no job open and no event for a quiet period.
    */
  def drain(quietMs: Long = 300, maxMs: Long = 10000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() < deadline &&
      (jobsOpen.get() > 0 || System.nanoTime() - lastEventNs < quietMs * 1000000L))
      Thread.sleep(20)
  }
}

/** Codegen counters: JVM-wide totals whose deltas a span records. */
object Codegen {
  def snapshot(): (Double, Long) =
    (CodeGenerator.compileTime / 1e9, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}

/** Planning phases and operator counts of an executed plan. */
object PlanShape {
  private val kinds: Seq[(String, String)] = Seq(
    "ShuffleExchangeExec" -> "plan.exchanges",
    "SortExec" -> "plan.sorts",
    "SortMergeJoinExec" -> "plan.smj",
    "BroadcastHashJoinExec" -> "plan.bhj",
    "WindowExec" -> "plan.windows",
    "InMemoryTableScanExec" -> "plan.inmem_scans")

  def phases(t: QueryPlanningTracker, tracer: Tracer): Unit = {
    val p = t.phases
    def ms(k: String) = p.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    tracer.record("plan.analysis_s", ms(QueryPlanningTracker.ANALYSIS))
    tracer.record("plan.optimize_s", ms(QueryPlanningTracker.OPTIMIZATION))
    tracer.record("plan.physical_s", ms(QueryPlanningTracker.PLANNING))
  }

  /** Count operators of the final (post-AQE) plan of a fingerprint
    * query, walking into query stages, reused exchanges and subqueries.
    * The first exchange below the root is the fingerprint's own gather
    * and is not counted. `graft.plans` operators and expressions count
    * as `plan.graft_nodes`.
    */
  def count(plan: SparkPlan, tracer: Tracer): Unit = {
    val c = new Counts
    def walk(p: SparkPlan, top: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, top)
      case q: QueryStageExec => walk(q.plan, top)
      case r: ReusedExchangeExec => walk(r.child, top)
      case _ =>
        val name = p.getClass.getSimpleName
        val own = top && name == "ShuffleExchangeExec"
        if (!own) kinds.foreach { case (cls, k) => if (name == cls) c.add(k, 1) }
        if (isGraft(p)) c.add("plan.graft_nodes", 1)
        p.expressions.foreach(_.foreach(e => if (isGraft(e)) c.add("plan.graft_nodes", 1)))
        p.children.foreach(walk(_, top && !own))
        p.subqueries.foreach(walk(_, top = false))
    }
    walk(plan, top = true)
    c.m.foreach { case (k, v) => tracer.record(k, v) }
  }

  /** graft's own plan nodes and expressions live in these packages. */
  private def isGraft(o: AnyRef): Boolean = {
    val n = o.getClass.getName
    n.startsWith("graft.") || n.startsWith("org.apache.spark.sql.graft.")
  }
}

/** The per-layer metrics of a traced run and their units. Job counters
  * and plan counters are per traced warm pass; codegen counts the first
  * pass; warm-up and cache figures come from set-up.
  */
object Layers {
  val units: Map[String, String] = Map(
    "plan.build_s" -> "s", "plan.analysis_s" -> "s", "plan.optimize_s" -> "s",
    "plan.physical_s" -> "s",
    "codegen.compile_s" -> "s", "codegen.classes" -> "count", "codegen.warm_classes" -> "count",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.delay_s" -> "s",
    "scan.rows" -> "rows", "scan.bytes" -> "bytes", "scan.tasks" -> "count",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_s" -> "s", "spill.bytes" -> "bytes",
    "exec.run_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s",
    "plan.exchanges" -> "count", "plan.sorts" -> "count", "plan.smj" -> "count",
    "plan.bhj" -> "count", "plan.windows" -> "count", "plan.inmem_scans" -> "count",
    "plan.graft_nodes" -> "count",
    "warmup.session_s" -> "s", "warmup.tables_s" -> "s", "warmup.dedup_s" -> "s",
    "warmup.sim_s" -> "s", "warmup.graph_s" -> "s", "cache.mb" -> "MB", "cache.rdds" -> "count",
    "ingest.import_s" -> "s", "ingest.copy_into_s" -> "s",
    "ingest.import_rows_per_s" -> "rows/s", "ingest.import_split_rows_per_s" -> "rows/s",
    "ingest.copy_rows_per_s" -> "rows/s",
    "copysink.batches" -> "count", "copysink.lines" -> "count",
    "sink.bytes_written" -> "bytes", "sink.bytes_per_row" -> "bytes",
    "trace.overhead_s" -> "s", "trace.overhead_pct" -> "%")

  val names: Seq[String] = units.keys.toSeq.sorted
}
