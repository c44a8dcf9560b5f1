package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of the benchmark client: the setup, one operation,
  * one call into a graft library function, or one action that
  * materializes a lazily built result. [[Tracer.finish]] fills `self`
  * (this span alone) and `incl` (this span and its children). */
final class Span(val id: Int, val name: String, val kind: String,
                 val tag: String, val parent: Int, val op: Int,
                 val startNs: Long, val startMs: Long) {
  var endNs = 0L
  var endMs = 0L
  /** Counters read at the span's boundaries (JVM and graft meters);
    * they include the children's share. */
  val boundary = mutable.LinkedHashMap.empty[String, Double]
  /** Counters attributed to exactly this span (engine events, notes). */
  val own = mutable.LinkedHashMap.empty[String, Double]
  val self = mutable.LinkedHashMap.empty[String, Double]
  val incl = mutable.LinkedHashMap.empty[String, Double]
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Cumulative process meters read at span boundaries. */
object Meters {
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def read(): Map[String, Double] = Map(
    "jvm.jit_s" -> math.max(0L, graft.Sentinel.jitMs()) / 1e3,
    "jvm.gc_s" -> gcMs / 1e3,
    "spark.codegen.compiles" -> graft.Sentinel.codegenCompiles().toDouble,
    "spark.codegen.compile_s" -> org.apache.spark.sql.catalyst.expressions
      .codegen.CodeGenerator.compileTime / 1e9,
    "operators.BuildMeter.build_s" -> graft.operators.BuildMeter.seconds)
}

/** Spans around the client's calls, plus the Spark engine's own
  * counters attributed to them.
  *
  * Engine attribution: every span sets a Spark local property with its
  * id, so each job carries the id of the innermost open span; stages and
  * tasks inherit it through their job. Query-planning phases and write
  * statistics come from a QueryExecutionListener, which sees no local
  * properties; they are attributed by wall-clock time to the innermost
  * span open at that moment (the client is a single closed loop, so
  * spans never overlap except by nesting). Listener events arrive
  * asynchronously and are merged at [[finish]], after the listener bus
  * has drained. Spans stay in memory until then. */
final class Tracer(spark: SparkSession, val attached: Boolean) {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var op = -1
  /** Spans are recorded only while this is set (and only set when the
    * listeners are attached). */
  var recording = false

  private val engine = new EngineCounters
  private val planning = new PlanningListener
  if (attached) {
    spark.sparkContext.addSparkListener(engine)
    spark.listenerManager.register(planning)
  }

  def beginOp(i: Int): Unit = op = i

  def span[T](name: String, kind: String = "call", tag: String = "")(f: => T): T =
    if (!recording) f
    else {
      val s = new Span(spans.size, name, kind, tag,
        stack.headOption.map(_.id).getOrElse(-1), op,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanProperty, s.id.toString)
      val m0 = Meters.read()
      try f
      finally {
        val m1 = Meters.read()
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        m1.foreach { case (k, v) => s.boundary(k) = v - m0(k) }
        stack = stack.tail
        sc.setLocalProperty(SpanProperty,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Add `v` to counter `key` of the innermost open span. */
  def note(key: String, v: Double): Unit =
    stack.headOption.foreach(s => s.own(key) = s.own.getOrElse(key, 0.0) + v)

  /** Drain the listener bus, merge the engine counters into the spans and
    * compute each span's self and inclusive values. */
  def finish(): Unit = {
    drainListenerBus(spark)
    engine.bySpan.asScala.foreach { case (id, m) =>
      if (id >= 0 && id < spans.size)
        m.asScala.foreach { case (k, v) =>
          spans(id).own(k) = spans(id).own.getOrElse(k, 0.0) + v.sum
        }
    }
    planning.events.asScala.foreach { case (t, k, v) =>
      innermostAt(t).foreach(s => s.own(k) = s.own.getOrElse(k, 0.0) + v)
    }
    val children = spans.groupBy(_.parent)
    // children always have larger ids, so a reverse sweep sees them first
    spans.reverseIterator.foreach { s =>
      val kids = children.getOrElse(s.id, Seq.empty)
      s.incl("wall_s") = s.seconds
      s.self("wall_s") = s.seconds - kids.map(_.seconds).sum
      s.boundary.foreach { case (k, v) =>
        s.incl(k) = v
        s.self(k) = v - kids.map(_.boundary.getOrElse(k, 0.0)).sum
      }
      val eventKeys = s.own.keySet ++
        kids.flatMap(_.incl.keySet).filterNot(k => k == "wall_s" || s.boundary.contains(k))
      eventKeys.foreach { k =>
        s.self(k) = s.own.getOrElse(k, 0.0)
        s.incl(k) = s.self(k) + kids.map(_.incl.getOrElse(k, 0.0)).sum
      }
    }
  }

  private def innermostAt(tMs: Long): Option[Span] = {
    val open = spans.filter(s => s.startMs <= tMs && tMs <= s.endMs)
    if (open.isEmpty) None else Some(open.maxBy(_.startNs))
  }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "kind" -> s.kind, "tag" -> s.tag,
      "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "self" -> s.self.toMap, "incl" -> s.incl.toMap)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** Wait until every posted listener event has been delivered. The bus
    * handle is package-private in Spark, so it is reached reflectively;
    * without it, fall back to a quiet period. */
  def drainListenerBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(60000L))
    } catch { case _: ReflectiveOperationException => Thread.sleep(2000) }
  }

  type Sums = ConcurrentHashMap[String, java.util.concurrent.atomic.DoubleAdder]

  private def add(m: Sums, k: String, v: Double): Unit =
    m.computeIfAbsent(k, _ => new java.util.concurrent.atomic.DoubleAdder).add(v)

  /** Job/stage/task counters keyed by the span that started the job. */
  final class EngineCounters extends SparkListener {
    val bySpan = new ConcurrentHashMap[Int, Sums]()
    private val stageSpan = new ConcurrentHashMap[Int, Integer]()

    private def sums(span: Int): Sums = bySpan.computeIfAbsent(span, _ => new Sums)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .foreach { id =>
          val span = id.toInt
          e.stageIds.foreach(st => stageSpan.put(st, Integer.valueOf(span)))
          add(sums(span), "spark.jobs", 1)
        }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId))
        .foreach(span => add(sums(span.intValue), "spark.stages", 1))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (span != null && m != null) {
        val s = sums(span.intValue)
        add(s, "spark.tasks", 1)
        add(s, "spark.executor.run_s", m.executorRunTime / 1e3)
        add(s, "spark.executor.cpu_s", m.executorCpuTime / 1e9)
        add(s, "spark.shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(s, "spark.shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(s, "spark.shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add(s, "spark.spill_bytes", m.diskBytesSpilled.toDouble)
        add(s, "spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add(s, "spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  /** Planning-phase seconds and file-write statistics per executed
    * query, stamped with the wall-clock time they refer to. */
  final class PlanningListener extends QueryExecutionListener {
    val events = new ConcurrentLinkedQueue[(Long, String, Double)]()

    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      qe.tracker.phases.values.foreach { p =>
        events.add((p.startTimeMs, "spark.planning_s", (p.endTimeMs - p.startTimeMs) / 1e3))
      }
      // execution starts where planning ends (the callback itself runs
      // later, on the listener bus)
      val started = qe.tracker.phases.values.map(_.endTimeMs).maxOption.getOrElse(0L)
      writes(qe.executedPlan).foreach { m =>
        Seq("numFiles" -> "write.files", "numOutputBytes" -> "write.bytes",
          "numOutputRows" -> "write.rows").foreach { case (k, name) =>
          m.get(k).foreach(x => events.add((started, name, x.value.toDouble)))
        }
      }
    }

    private def writes(p: SparkPlan): Seq[Map[String, SQLMetric]] = p match {
      case w: DataWritingCommandExec => Seq(w.cmd.metrics)
      case a: AdaptiveSparkPlanExec => writes(a.executedPlan)
      case q: QueryStageExec => writes(q.plan)
      case other => other.children.flatMap(writes)
    }

    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }
}
