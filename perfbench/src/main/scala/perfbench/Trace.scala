package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded by the benchmark around each call into a layer of the
  * engine: name, start, end, parent span and the operation that was
  * running. Kept in memory and written out once, at the end of the run.
  * When off, `apply` only runs its body. */
final class Tracer(val on: Boolean) {
  final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var next = 0

  /** The operation spans and Spark jobs are charged to; < 0 during set-up. */
  var op: Int = 0

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      next += 1
      val id = next
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Self time (span minus its direct children) of each span, in seconds,
    * grouped by span name; `keep` selects spans by operation id. */
  def selfTimes(keep: Int => Boolean): Map[String, Seq[Double]] = {
    val child = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent != 0) child(s.parent) += s.end - s.start)
    spans.filter(s => keep(s.op)).groupBy(_.name).map { case (k, ss) =>
      k -> ss.map(s => (s.end - s.start - child(s.id)) / 1e9).toSeq
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.id).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Spark and JVM counters observed from outside the engine, each charged to
  * the operation that was running: a listener for jobs, completed stages,
  * tasks and shuffle bytes (jobs carry the operation id as a local
  * property), JMX for GC time. */
final class Counters(sc: SparkContext) extends SparkListener {
  final class C { var jobs, stages, tasks, shuffleBytes, gcMs = 0L }
  private val byOp = mutable.HashMap.empty[Int, C]
  private val stageOp = mutable.HashMap.empty[Int, Int]
  private def of(op: Int): C = byOp.getOrElseUpdate(op, new C)

  sc.addSparkListener(this)

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val op = Option(j.properties).flatMap(p => Option(p.getProperty(Counters.Key)))
      .map(_.toInt).getOrElse(0)
    of(op).jobs += 1
    j.stageIds.foreach(stageOp(_) = op)
  }
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    of(stageOp.getOrElse(s.stageInfo.stageId, 0)).stages += 1
  }
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageOp.getOrElse(t.stageId, 0))
    c.tasks += 1
    if (t.taskMetrics != null)
      c.shuffleBytes += t.taskMetrics.shuffleWriteMetrics.bytesWritten
  }

  private var gcAt = 0L
  /** Start charging work to `op` (a local property the jobs inherit). */
  def begin(op: Int): Unit = {
    sc.setLocalProperty(Counters.Key, op.toString)
    gcAt = Counters.gcMillis()
  }
  def end(op: Int): Unit = synchronized { of(op).gcMs += Counters.gcMillis() - gcAt }

  /** Totals over the operations `keep` selects, after the listener bus
    * has delivered every pending event. */
  def totals(keep: Int => Boolean): C = {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    synchronized {
      val t = new C
      byOp.foreach { case (op, c) =>
        if (keep(op)) {
          t.jobs += c.jobs; t.stages += c.stages; t.tasks += c.tasks
          t.shuffleBytes += c.shuffleBytes; t.gcMs += c.gcMs
        }
      }
      t
    }
  }
}

object Counters {
  val Key = "perfbench.op"
  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }
}
