package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext

final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
                      runId: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * In-memory span recorder for the traced run. Each span is also the Spark
 * job group of the jobs its body starts (until a child span opens), so
 * [[Collector]] totals line up with spans one to one. Spans of one run
 * share `runId`; they are written out once, when the run ends.
 */
final class Spans(sc: SparkContext, val runId: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String)]
  private var nextId = 0

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.fold(-1)(_._1)
    open = (id, name) :: open
    sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      done += Span(id, name, parent, t0, t1, runId)
      open.headOption.fold(sc.clearJobGroup())(p => sc.setJobGroup(p._2, p._2))
    }
  }

  def recorded: Seq[Span] = done.toSeq

  def named(name: String): Seq[Span] = done.filter(_.name == name).toSeq

  /** Wall time of all spans called `name`. */
  def wall(name: String): Double = named(name).map(_.seconds).sum

  /** Self time: each span's duration minus the part of it that its child
    * spans cover. */
  def self(name: String): Double = named(name).map { s =>
    val kids = done.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var end = s.startNs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, end)
      if (b > lo) { covered += b - lo; end = b }
    }
    s.seconds - covered / 1e9
  }.sum

  def toJsonLines: String = done.sortBy(_.startNs).map { s =>
    s"""{"run":"${s.runId}","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"seconds":${s.seconds}}"""
  }.mkString("", "\n", "\n")
}
