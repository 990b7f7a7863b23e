package cubebench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** Spark-listener counters, read as deltas around a call. */
final class Counters extends SparkListener {
  val jobs, stages, tasks, taskCpuNs, inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes,
      rddBlocksStored, rddBlockReputs = new AtomicLong
  private val seenBlocks = mutable.Set[(Int, Int)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs.addAndGet(m.executorCpuTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled)
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = e.blockUpdatedInfo.blockId match {
    case RDDBlockId(rdd, split) if e.blockUpdatedInfo.storageLevel.isValid =>
      rddBlocksStored.incrementAndGet()
      if (!seenBlocks.synchronized(seenBlocks.add((rdd, split)))) rddBlockReputs.incrementAndGet()
    case _ => ()
  }

  /** A new query starts: a second put of the same block after this is a recompute. */
  def resetBlocks(): Unit = seenBlocks.synchronized(seenBlocks.clear())

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get, "task_cpu_ns" -> taskCpuNs.get,
    "input_bytes" -> inputBytes.get, "shuffle_read_bytes" -> shuffleReadBytes.get,
    "shuffle_write_bytes" -> shuffleWriteBytes.get, "spill_bytes" -> spillBytes.get,
    "rdd_blocks_stored" -> rddBlocksStored.get, "rdd_block_reputs" -> rddBlockReputs.get)
}

/** One span: a timed call into a layer. `group` is shared by the spans of
  * one iteration, lookup or query; `pass` is the timed pass it ran in (-1
  * for set-up and warm-up); `counters` holds listener deltas. */
final case class Span(id: Int, parent: Int, pass: Int, group: String, name: String, startNs: Long, endNs: Long,
    counters: Map[String, Long]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder. When inactive, `span` only runs its body, so the timed
  * runs carry no tracing cost; when active, spans stay in memory until the
  * run writes them out. */
final class Tracer(val on: Boolean, counters: Option[Counters]) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0
  var active: Boolean = on
  var pass: Int = -1
  var group = "setup"

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val before = counters.map(_.snapshot).getOrElse(Map.empty)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val after = counters.map(_.snapshot).getOrElse(Map.empty)
        stack = stack.tail
        spans += Span(id, parent, pass, group, name, t0, t1, after.map { case (k, v) => k -> (v - before(k)) })
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  /** Spans of the timed passes, by name. */
  def timed(name: String): Seq[Span] = spans.filter(s => s.name == name && s.pass >= 0).toSeq

  /** Self time of each span: its duration minus the union of its
    * children's intervals (children of one span never overlap here, as
    * the benchmark is a single closed-loop client). */
  def selfMs: Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map(s => s.id -> (s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum)).toMap
  }

  def toJson: String = spans.map { s =>
    val c = s.counters.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"pass":${s.pass},"group":"${s.group}","name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"counters":{$c}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
