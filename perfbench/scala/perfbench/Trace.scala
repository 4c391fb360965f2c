package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's own counters for one job group. */
final case class Counts(jobs: Long = 0, tasks: Long = 0, cpuNs: Long = 0,
                        runMs: Long = 0, shuffleBytes: Long = 0,
                        spillBytes: Long = 0) {
  def +(o: Counts): Counts = Counts(jobs + o.jobs, tasks + o.tasks,
    cpuNs + o.cpuNs, runMs + o.runMs, shuffleBytes + o.shuffleBytes,
    spillBytes + o.spillBytes)
  /** The parts that repeat exactly on identical work. Shuffle bytes can
    * move by a few bytes when rows reach a compressed block in another
    * order. */
  def shape: (Long, Long) = (jobs, tasks)
}

/** Sums every task's metrics by the job group its job ran under. */
final class GroupCounter(sc: SparkContext) extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val acc = mutable.Map.empty[String, Counts]

  private def add(g: String, c: Counts): Unit = synchronized {
    acc(g) = acc.getOrElse(g, Counts()) + c
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    add(g, Counts(jobs = 1))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val g = Option(stageGroup.get(e.stageId)).getOrElse("")
    if (m == null) add(g, Counts(tasks = 1))
    else add(g, Counts(tasks = 1, cpuNs = m.executorCpuTime,
      runMs = m.executorRunTime,
      shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled))
  }
  /** The counts so far, once the listener bus has delivered every event. */
  def snapshot(): Map[String, Counts] = {
    PerfbenchBus.drain(sc)
    synchronized(acc.toMap)
  }
  def total(): Counts = snapshot().values.foldLeft(Counts())(_ + _)
}

/** Analysis + optimisation + planning time of every executed query. */
final class PlanTimer extends QueryExecutionListener {
  val ms = new AtomicLong(0L)
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    ms.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum); ()
  }
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}

/** Attaches the counters for the length of `body`, then detaches them —
  * timed runs carry no listener. */
object Listening {
  def apply[T](spark: SparkSession)(body: (GroupCounter, PlanTimer) => T): T = {
    val sc = spark.sparkContext
    val counter = new GroupCounter(sc)
    val plans = new PlanTimer
    sc.addSparkListener(counter)
    spark.listenerManager.register(plans)
    try body(counter, plans)
    finally {
      sc.removeSparkListener(counter)
      spark.listenerManager.unregister(plans)
    }
  }
}

final case class SpanRec(id: Long, name: String, parent: Long,
                         startNs: Long, endNs: Long, runId: String) {
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into the program. Off, a span is
  * just its body. On, each call runs under its own Spark job group
  * (`<name>#<id>`), so the counters can be attributed to it. */
final class Tracer(spark: SparkSession, val runId: String) {
  @volatile var on = false
  private val ids = new AtomicLong(0L)
  private var stack: List[Long] = Nil
  val spans = mutable.ArrayBuffer.empty[SpanRec]

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val id = ids.incrementAndGet()
      val parent = stack.headOption
      val group = s"$name#$id"
      stack = id :: stack
      open(id) = group
      sc.setJobGroup(group, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        open -= id
        spans += SpanRec(id, name, parent.getOrElse(0L), t0, t1, runId)
        parent.flatMap(open.get) match {
          case Some(g) => sc.setJobGroup(g, g, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  private val open = mutable.Map.empty[Long, String]

  /** Per span name: summed counters and the median wall time. */
  def attribute(groups: Map[String, Counts]): Map[String, (Counts, Double, Int)] = {
    val byName = groups.toSeq.collect {
      case (g, c) if g.contains('#') => g.substring(0, g.lastIndexOf('#')) -> c
    }.groupMapReduce(_._1)(_._2)(_ + _)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> (byName.getOrElse(n, Counts()), Stats.median(ss.map(_.wallMs).toSeq), ss.size)
    }
  }

  def toJson: String = spans.map(s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"run_id":"${s.runId}"}""")
    .mkString("[\n", ",\n", "\n]\n")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** The highest of a few percentiles with at least ten samples beyond
    * it: (percentile, value), or None while the sample is too small. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    Seq(99, 95, 90, 75, 50).find(p => s.size * (100 - p) / 100.0 >= 10)
      .map(p => p -> s(math.min(s.size - 1, math.ceil(s.size * p / 100.0).toInt - 1)))
  }
}

/** Per-kind latency samples of the timed operations, plus failures. */
final class Ops {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  /** Called after every op, outside its timing. */
  var after: () => Unit = () => ()

  def run[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val out =
      try {
        val r = body
        samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) +=
          (System.nanoTime() - t0) / 1e6
        Some(r)
      } catch {
        case NonFatal(e) =>
          failed += 1
          errors += s"$kind: $e"
          System.err.println(s"[perfbench] op $kind failed: $e")
          e.printStackTrace()
          None
      }
    after()
    out
  }

  def busyMs: Double = samples.values.flatten.sum
  def p50(kind: String): Double = Stats.median(samples(kind).toSeq)
  /** Geometric mean of the per-kind medians: each kind's median comes
    * from that kind's samples alone, and every kind weighs the same. */
  def p50Geomean: Double =
    math.exp(samples.keys.map(k => math.log(p50(k))).sum / samples.size)

  def kindsJson: String = samples.map { case (k, xs) =>
    val tail = Stats.tail(xs.toSeq).fold("null")(t =>
      s"""{"percentile":${t._1},"ms":${t._2}}""")
    s""""$k":{"n":${xs.size},"p50_ms":${p50(k)},"tail":$tail}"""
  }.mkString("{", ",", "}")
}
